"""Persisted graph-ANN index — the NSW serving tier at store shape.

Round-7 verdict task 1: dedup (band index), BM25 (postings store +
streamed MV), and IVF (``ann_ivf_pruned_store``) all have persisted,
incrementally-maintained serving twins; the graph tier did not — its
NN-descent build ran INSIDE the declared query every sweep.  This
module gives the graph family the same two store tiers:

* ``ann_nsw_store_topk`` — the NN-descent + long-range small-world
  graph built ONCE into a txlog table (``optimize``-clustered on
  ``src`` so every file group owns a node range, min/max zone maps),
  then beam-searched THROUGH the store: each hop plans its frontier's
  groups with batched zone-map point pruning
  (``TxTable.prune_groups_points``) and scans only the planned union.
  A hop's cost is frontier-bounded — ≤ W·(M+1) adjacency rows per
  probe per hop — independent of corpus size, which is the property a
  100 TB vector corpus needs from its graph index.  Gate: the same
  in-gate recall contract as ann_nsw_descent_topk (mean recall@10 vs
  the in-query exact top-10 ≥ 0.5) plus a ``pruned`` boolean
  requiring at least one hop to have physically skipped groups.
* ``stream_nsw_mv`` — the kNN adjacency maintained INCREMENTALLY
  under streaming appends of vectors.  Per micro-batch: score only
  the pairs with ≥ 1 endpoint in the batch (|batch| × corpus-so-far
  — linear per batch, n² TOTAL, same as one batch build), recompute
  the per-src top-M over (old ∪ candidates), and commit ONLY the
  CHANGED edges as one atomic CDC delta (``TxTable.apply_cdc`` —
  inserts for pairs entering a top-M, DV-deletes for pairs falling
  out) under per-batch txn identity; the WRITE cost is ∝ changed
  edges, never the adjacency size.  Top-M per src is a MERGEABLE
  summary — a pair discarded at batch i was beaten by M better pairs
  that can only ever be displaced by still-better ones, so it can
  never re-enter the true top-M — which makes the fold EXACT: after
  the drain the stored graph is proved edge-for-edge equal to the
  one-shot batch build (two exceptAll gates), batch 0 is
  adversarially replayed (must be a txn no-op), and the declared
  answer is served from the MV graph against ORACLE_NSW VERBATIM.
  The exact fold is declared because its oracle is bit-exact — and it
  is the VERIFICATION TWIN of the scale path below.
* ``stream_nsw_descent_mv`` — the approximate SCALE path (round-9
  verdict task 1): per-batch candidates come from beam-seeding each
  batch vector through the live stored graph plus NN-descent delta
  rounds over the batch frontier, so the scored-candidate count per
  batch is bounded by a CONSTANT per vector (_DESCENT_MV_BUDGET — a
  function of beam hops/width, the degree cap, and the round count,
  independent of |V|), where the exact tier scores |B|·|V|.  Same
  localized per-src top-M fold, same apply_cdc CDC-delta commits,
  same txn replay safety; gate = the ann_nsw_descent_topk recall
  contract plus a ``bounded`` boolean read from the maintenance-stats
  sidecar the stream writes as it runs.  A post-drain REPAIR round
  (descent_mv_repair — full-graph NN-descent, ≤ D·(D+1) new scorings
  per node, LINEAR in |V|, scheduled like file compaction) heals the
  staleness touch-only folds leave behind: an early node keeps its
  then-best top-M until a batch candidate happens to touch it.
  Measured at 20k clustered vectors (tools/scale_round9.py):
  per-vector candidates plateau ~800 while the exact tier's grow
  linearly (47× more by batch 7); serving recall@10 0.875 before
  repair vs 0.95 for the one-shot descent build (post-repair number
  in SCALE.md).  Round-10 (r9 verdict task 1): the per-batch I/O is
  corpus-independent too — every maintenance read is zone-map
  point-planned (src/dst-pruned adjacency groups with the exact
  per-src degree cap, vec_id-pruned embedding reads, touched-src
  fold reads), long-range tunnels persist to a side table per batch
  (md5-stateless, both directions) instead of a full-corpus
  derivation per micro-batch, and corpus count / id-domain come from
  commit metadata (count_rows / column_range) — zero full-table
  scans per batch.  Post-drain, the repair round is followed by the
  compaction-analog OPTIMIZE re-clustering (src / src / vec_id) so
  the point plans keep tight groups to skip; serving is size-gated
  (_PRUNED_SERVE_MIN_ROWS) between one in-memory lazy plan and the
  2-jobs-per-hop pruned loop — identical beam either way
  (tools/scale_round10.py + plans/r10/ carry the evidence).

No counterpart in the reference (azanium has no similarity tier;
pseudoace.py:1-40 is Datomic import plumbing); this completes SURVEY
§2.12's similarity family at serving shape.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table
from .operators.similarity import (
    NSW_H,
    NSW_M,
    NSW_W,
    _score_pairs,
    _symmetrize,
    fp_dot,
    nsw_build_edges,
    nsw_build_edges_descent,
    nsw_longrange_edges,
)

# ---------------------------------------------------------------------------
# the persisted graph store (shared by ann_nsw_store_topk and the
# refactored ann_nsw_descent_topk — one build, two serving plans)
# ---------------------------------------------------------------------------


def ensure_nsw_graph_store(spark: SparkSession, sf_dir: str):
    """The NN-descent + long-range adjacency built once into a txlog
    table, OPTIMIZE-clustered on ``src`` (each file group owns a
    contiguous node range → min/max zone maps make any frontier's
    groups plannable without I/O).  Priming discipline (r7 verdict
    task 7): behind a ``_BUILD_DONE`` marker so sweeps and bench time
    SERVING, never construction."""
    from .plans.txlog import TxTable
    from .queries_e2e import _fx

    root = _fx(sf_dir, "txlog_nsw_graph")
    done = os.path.join(root, "_BUILD_DONE")
    edges_root = os.path.join(root, "edges")
    if os.path.exists(done):
        return TxTable(edges_root)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    edges = (
        nsw_build_edges_descent(emb)
        .unionByName(nsw_longrange_edges(emb))
        .dropDuplicates(["src", "dst"])
    )
    t = TxTable(edges_root)
    t.commit_append(edges)
    t.optimize(spark, sort_key=["src"], target_groups=8)
    with open(done, "w"):
        pass
    return t


def ensure_nsw_exact_edges(spark: SparkSession, sf_dir: str) -> dict:
    """The EXACT (oracle-replayable) NSW graphs primed once per code
    version: layer-0 symmetrized top-M kNN over the full corpus plus
    HNSW's sparse upper layer (every 8th vector, degree 4).  The
    declared ann_nsw_topk / ann_hnsw_topk serve from these files —
    their n² builds ran every bench sweep before this fixture (r7
    verdict task 7: sweeps time serving, not construction).  Returns
    {"l0": path, "l1": path}."""
    from .queries_e2e import _fx
    from .queries_round4 import _HNSW_M1, _HNSW_STRIDE

    root = _fx(sf_dir, "nsw_exact_edges")
    done = os.path.join(root, "_BUILD_DONE")
    paths = {
        "l0": os.path.join(root, "l0.parquet"),
        "l1": os.path.join(root, "l1.parquet"),
    }
    if os.path.exists(done):
        return paths
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    nsw_build_edges(emb).write.mode("overwrite").parquet(paths["l0"])
    l1 = emb.filter(F.col("vec_id") % _HNSW_STRIDE == 0)
    nsw_build_edges(l1, m=_HNSW_M1).write.mode("overwrite").parquet(
        paths["l1"]
    )
    with open(done, "w"):
        pass
    return paths


def store_beam_search(
    spark: SparkSession,
    t,
    emb: DataFrame,
    q: DataFrame,
    hops: int = NSW_H,
    width: int = NSW_W,
):
    """Breadth-beam search where each hop's adjacency comes THROUGH the
    store: collect the hop's frontier (≤ width × |q| node ids — the
    bounded planner state any graph-serving engine keeps per query),
    plan its groups with one batched zone-map pass, scan only the
    planned union.  Semantics are identical to
    operators.similarity.nsw_beam_search over the same edge set —
    deterministic expand → rescore → top-``width`` with id tie-breaks.
    Returns (final beam, groups_scanned, groups_scannable) where the
    counts measure hop-level file skipping."""
    nodes = emb.select(F.col("vec_id").alias("node"), "embedding")

    def score(cand: DataFrame) -> DataFrame:
        return (
            cand.join(nodes, "node")
            .join(F.broadcast(q), "query_id")
            .select(
                "query_id",
                "node",
                fp_dot(F.col("qv"), F.col("embedding")).alias("rel"),
            )
        )

    entry0 = emb.agg(F.min("vec_id").alias("node"))
    seed = q.select("query_id").crossJoin(F.broadcast(entry0))
    beam = score(seed).localCheckpoint(eager=False)
    total = len(t.active_groups())
    scanned = scannable = 0
    for _hop in range(hops):
        frontier = sorted(
            r.node for r in beam.select("node").distinct().collect()
        )
        picked, _tot = t.prune_groups_points("src", frontier)
        scanned += len(picked)
        scannable += total
        hop_edges = t.read_groups(spark, sorted(picked)).filter(
            F.col("src").isin(frontier)
        )
        s = beam.alias("s")
        cand = (
            beam.select("query_id", "node")
            .unionByName(
                s.join(
                    hop_edges.alias("e"),
                    F.col("s.node") == F.col("e.src"),
                ).select(
                    F.col("s.query_id").alias("query_id"),
                    F.col("e.dst").alias("node"),
                )
            )
            .dropDuplicates(["query_id", "node"])
        )
        wb = Window.partitionBy("query_id").orderBy(F.desc("rel"), "node")
        beam = (
            score(cand)
            .withColumn("rn", F.row_number().over(wb))
            .filter(F.col("rn") <= width)
            .drop("rn")
            .localCheckpoint(eager=False)
        )
    return beam, scanned, scannable


def q_ann_nsw_store_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph ANN served FROM the persisted store: beam search whose
    hops plan and scan only the file groups owning the frontier's node
    ranges (zone-map point pruning over the src-clustered adjacency).
    Same recall contract as ann_nsw_descent_topk — the stored graph IS
    the descent graph — plus ``pruned``: the sum over hops of planned
    groups must be strictly below hops × live groups, i.e. at least
    one hop physically skipped files (the first hop always does: its
    frontier is the single entry node)."""
    from .queries import _ann_recall_gate

    t = ensure_nsw_graph_store(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    beam, scanned, scannable = store_beam_search(spark, t, emb, q)
    wf = Window.partitionBy("query_id").orderBy(F.desc("rel"), "node")
    approx = (
        beam.filter(F.col("node") != F.col("query_id"))
        .withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= 10)
        .select("query_id", F.col("node").alias("neighbor_id"))
    )
    # exact side ranked by the SAME fixed-point dot the beam ranks by
    exact = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            fp_dot(F.col("qv"), F.col("embedding")).alias("xrel"),
        )
    )
    wx = Window.partitionBy("query_id").orderBy(
        F.desc("xrel"), "neighbor_id"
    )
    exact = (
        exact.withColumn("rn", F.row_number().over(wx))
        .filter(F.col("rn") <= 10)
        .select("query_id", "neighbor_id")
    )
    return _ann_recall_gate(approx, exact, bound=0.5).withColumn(
        "pruned", F.lit(scanned < scannable)
    )


# ---------------------------------------------------------------------------
# stream_nsw_mv — the adjacency maintained incrementally, proved exact
# ---------------------------------------------------------------------------

_N_SLICES = 4


def _ensure_stream_nsw_mv(spark: SparkSession, sf_dir: str):
    """Incremental kNN-graph maintenance under streaming vector
    appends.  State: a vectors table V (append-only) and the directed
    top-M adjacency K (src, dst, dot).  Per micro-batch B:

    1. candidates = every ordered pair with ≥ 1 endpoint in B
       (B × (V∪B) plus V × B), scored with the exact fixed-point dot;
    2. K ← the per-src top-M of (K ∪ candidates), committed as a CDC
       DELTA (apply_cdc: changed edges only) with txn identity
       ("nsw_knn", batch) — the mergeable-summary fold at
       O(changed-edge) write cost;
    3. B appends to V under txn ("nsw_vec", batch).

    Crash/replay safety: the fold commits before the vector append, so
    a replayed batch txn-skips the fold and only ever re-appends its
    own vectors once.  After the drain the stored graph is gated
    edge-for-edge against the one-shot batch build, and batch 0 is
    adversarially replayed (both tables must version-no-op); any
    failure rmtrees the fixture before raising."""
    from .plans.txlog import TxTable
    from .queries_e2e import _fx

    root = _fx(sf_dir, "txlog_stream_nsw_mv")
    done = os.path.join(root, "_BUILD_DONE")
    vec_root = os.path.join(root, "vectors")
    knn_root = os.path.join(root, "knn")
    if os.path.exists(done):
        return TxTable(knn_root)
    shutil.rmtree(root, ignore_errors=True)
    src_dir = os.path.join(root, "src")
    os.makedirs(src_dir, exist_ok=True)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    # a real multi-batch arrival: the corpus split into _N_SLICES files,
    # streamed one file per trigger
    for i in range(_N_SLICES):
        tmp = os.path.join(root, f"_tmp{i}")
        emb.filter(F.col("vec_id") % _N_SLICES == i).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.rename(part, os.path.join(src_dir, f"slice_{i}.parquet"))
        shutil.rmtree(tmp)

    def refresh(bdf: DataFrame, batch_id: int) -> None:
        b = bdf.select("vec_id", "embedding")
        sp = bdf.sparkSession
        vt = TxTable(vec_root)
        prev = vt.read(sp) if vt.latest_version() >= 0 else None
        allv = b if prev is None else prev.unionByName(b)
        b_src = b.select(F.col("vec_id").alias("src"))
        pairs = b_src.crossJoin(
            allv.select(F.col("vec_id").alias("dst"))
        )
        if prev is not None:
            pairs = pairs.unionByName(
                prev.select(F.col("vec_id").alias("src")).crossJoin(
                    b.select(F.col("vec_id").alias("dst"))
                )
            )
        pairs = pairs.filter(F.col("src") != F.col("dst"))
        scored = _score_pairs(allv, pairs)
        kt = TxTable(knn_root)
        w = Window.partitionBy("src").orderBy(F.desc("dot"), "dst")
        if kt.latest_version() < 0:
            first = (
                scored.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= NSW_M)
                .select("src", "dst", "dot")
            )
            kt.commit_append(first, txn=("nsw_knn", batch_id))
        else:
            # CDC delta instead of a table rewrite: recompute the per-src
            # top-M over (old ∪ new candidates), then commit ONLY the
            # edges that actually changed — inserts for pairs entering a
            # top-M, deletes for pairs falling out.  Write cost ∝ changed
            # edges (steady-state small), never the adjacency size.
            old = kt.read(sp).select("src", "dst", "dot")
            new = (
                old.unionByName(scored)
                .dropDuplicates(["src", "dst"])
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= NSW_M)
                .select("src", "dst", "dot")
                .localCheckpoint(eager=False)
            )
            changes = (
                new.exceptAll(old)
                .withColumn("op", F.lit("upsert"))
                .unionByName(
                    old.exceptAll(new).withColumn("op", F.lit("delete"))
                )
            )
            kt.apply_cdc(sp, changes, ["src", "dst"], txn=("nsw_knn", batch_id))
        vt.commit_append(b, txn=("nsw_vec", batch_id))

    schema = emb.schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(refresh)
        .option("checkpointLocation", os.path.join(root, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    if q.isActive:
        q.stop()
        raise RuntimeError("nsw mv stream drain did not finish")
    kt, vt = TxTable(knn_root), TxTable(vec_root)
    # adversarial replay: batch 0's identity is already in both logs —
    # a deterministic slice (slice_0's own rows), must version-no-op
    before = (kt.latest_version(), vt.latest_version())
    refresh(emb.filter(F.col("vec_id") % _N_SLICES == 0), 0)
    if (kt.latest_version(), vt.latest_version()) != before:
        shutil.rmtree(root, ignore_errors=True)
        raise RuntimeError(
            "replayed batch 0 must no-op both tables (txn dedup broke)"
        )
    # the exactness proof: incremental fold == one-shot batch build,
    # edge for edge (directed, pre-symmetrize)
    stored = kt.read(spark).select("src", "dst")
    batch = nsw_build_edges(emb)  # symmetrized exact top-M
    sym = _symmetrize(stored)
    extra = sym.exceptAll(batch).count()
    missing = batch.exceptAll(sym).count()
    if extra or missing:
        shutil.rmtree(root, ignore_errors=True)
        raise RuntimeError(
            f"streamed graph != batch build: +{extra} -{missing} edges"
        )
    with open(done, "w"):
        pass
    return kt


def q_stream_nsw_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NSW top-10 served from the STREAM-maintained adjacency
    (_ensure_stream_nsw_mv) — the beam search never touches a batch
    build.  The oracle is ORACLE_NSW VERBATIM (exact kNN graph built
    from scratch, beam CTE-replayed hop by hop), so the hash gate
    proves the incremental folds converged to exactly the batch graph
    AND the sink was exactly-once — a dropped, doubled, or
    replay-leaked batch loses or corrupts an edge, and any edge
    difference shifts some hop's beam."""
    from .operators.similarity import nsw_beam_search
    from .queries_round4 import _nsw_answer

    kt = _ensure_stream_nsw_mv(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    edges = _symmetrize(
        kt.read(spark).select("src", "dst")
    ).localCheckpoint(eager=False)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    beam = nsw_beam_search(emb, edges, q)
    return _nsw_answer(beam, emb, q)


# ---------------------------------------------------------------------------
# stream_nsw_descent_mv — the SCALE-SAFE incremental graph maintenance
# ---------------------------------------------------------------------------

_DESCENT_MV_ROUNDS = 2
# expansion degree cap: kNN digraphs grow unbounded IN-degree at hub
# nodes, so the symmetrized adjacency used for seeding/expansion is
# capped to the per-src top-D by dot — without it, per-batch candidate
# counts grow with the corpus through the hubs (the quadratic leak the
# exact tier has by construction)
_DESCENT_MV_DEGREE = 2 * NSW_M
# beam-entry selection: each batch vector scores a hash sample of ~64
# corpus nodes and enters the beam from its best 4 — without this a
# single global entry cannot reach a new vector's cluster
_DESCENT_MV_ENTRY_SAMPLE = 64
_DESCENT_MV_ENTRIES = 4
# per-vector scored-candidate budget — a CONSTANT of the topology
# parameters only (entry sampling + beam hops x width x capped degree
# for seeding, two capped delta rounds + intra-batch descent +
# reversals; effective expansion degree = cap + the 8 symmetrized
# long-range links), independent of |V|: the bound the ``bounded``
# gate asserts per batch
_DESCENT_MV_EFF_DEGREE = _DESCENT_MV_DEGREE + 8
_DESCENT_MV_BUDGET = (
    2 * _DESCENT_MV_ENTRY_SAMPLE
    + NSW_H * NSW_W * (_DESCENT_MV_EFF_DEGREE + 1)
    + 2
    * (
        NSW_W
        * (1 + _DESCENT_MV_EFF_DEGREE + _DESCENT_MV_EFF_DEGREE**2)
        + 8 * NSW_M
    )
)
# REPAIR pass (compaction-analog maintenance): one full-graph
# NN-descent round — every node proposes its capped neighbors'
# neighbors — costing ≤ D·(D+1) NEW scorings per node per round
# (LINEAR in |V|, amortized on a schedule like file compaction; the
# incremental refreshes above stay corpus-independent per batch).
# Touch-only folds never revisit an old node whose true kNN drifted
# as later batches arrived; the repair round is how those staleness
# errors get healed without ever paying the exact tier's |V|² rebuild.
_DESCENT_MV_REPAIR_ROUNDS = 1
_DESCENT_MV_REPAIR_BUDGET = _DESCENT_MV_DEGREE * (_DESCENT_MV_DEGREE + 1)


def descent_mv_refresh(
    sp: SparkSession,
    vec_root: str,
    knn_root: str,
    stats_path: str,
    bdf: DataFrame,
    batch_id: int,
    txn_family: tuple[str, str] = ("nswd_knn", "nswd_vec"),
) -> None:
    """One micro-batch of scale-safe incremental graph maintenance —
    the body of _ensure_stream_nsw_descent_mv's foreachBatch, exposed
    at module level so tools/scale_round9.py can drive the IDENTICAL
    code against the ×10 corpus.  See the ensure's docstring for the
    four phases (seed / delta rounds / localized fold / vector
    append)."""
    # Spark 4's Union.rewriteConstraints loses attributes when a union
    # child is a projection OF ITS SIBLING (the fwd ∪ reverse(fwd) and
    # old_t ∪ scored shapes below) and the plan is then checkpointed —
    # java.util.NoSuchElementException: key not found: src#N.  Scoped
    # workaround: constraint propagation off for the fold, restored
    # after (it only disables inferred IsNotNull/filter constraints —
    # never results).
    _CP = "spark.sql.constraintPropagation.enabled"
    cp_prev = sp.conf.get(_CP, "true")
    sp.conf.set(_CP, "false")
    try:
        _descent_mv_refresh_inner(
            sp, vec_root, knn_root, stats_path, bdf, batch_id, txn_family
        )
    finally:
        sp.conf.set(_CP, cp_prev)


_DESCENT_MV_LR_LINKS = 4

# Serve-path planner threshold (env-parameterised — r10 rule: no
# constants tuned for local[32]): below this many stored vectors the
# zone-map-pruned hop loop's fixed planning cost exceeds the I/O it
# skips, so the SAME persisted graph is served as one in-memory lazy
# plan instead — the broadcast-vs-shuffle-join decision, applied to
# graph serving.  Identical edges either way (asserted by test).
# Default = the MEASURED crossover (round 11, r10 verdict task 6,
# plans/r11/exp_serve_gate_crossover.json: lazy wins at ≤20k rows,
# tie at 50k, pruned 1.3×/1.9× faster at 100k/200k — warm-up+min3 per
# path per size on identical graphs, beams asserted equal).  Memoizing
# the lazy plan per store version was considered and REJECTED: its
# localCheckpoint would keep materialized edges across timed runs —
# cross-run result caching, which the bench rules forbid.
_PRUNED_SERVE_MIN_ROWS = int(
    os.environ.get("SPARK_GRAFT_ANN_PRUNED_SERVE_MIN_ROWS", "50000")
)


def _descent_lr_links(
    ids: DataFrame, n_total: int, links: int = _DESCENT_MV_LR_LINKS
) -> DataFrame:
    """Long-range tunnels for ONE batch of node ids — the identical
    md5 formula as operators.similarity.nsw_longrange_edges, but
    generated once per batch over the BATCH's ids only (modulo the
    live id-domain size at insert time) and PERSISTED, instead of a
    full-corpus map pass per micro-batch (round-9 verdict: the links
    are md5-stateless, so a batch's tunnels need only the batch ids).
    Both directions are stored, so any frontier's tunnel out-edges
    are a pure src-point-pruned read.  A tunnel whose dst id has not
    arrived yet simply dangles (the scoring join drops it) until the
    id exists — the same tolerance the recomputed form had for the
    modulo-sliced arrival order."""
    j = F.explode(
        F.array(*[F.lit(i) for i in range(1, links + 1)])
    ).alias("j")
    base = ids.select(F.col("vec_id").alias("src"), j)
    lr = base.select(
        "src",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "_",
                            F.lit("lr"),
                            F.col("src").cast("string"),
                            F.col("j").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % n_total
        ).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return lr.unionByName(
        lr.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates(["src", "dst"])


def _ids_df(sp: SparkSession, ids) -> DataFrame:
    return sp.createDataFrame([(int(i),) for i in ids], "node bigint")


def _pruned_sym_out_edges(
    sp: SparkSession, kt, frontier, cap: int | None, io: dict | None = None
) -> DataFrame:
    """Out-edges of ``frontier`` in the SYMMETRIZED stored adjacency —
    row-for-row equal to symmetrize(full table) filtered to
    src ∈ frontier (and per-src top-``cap`` by dot when given: the cap
    is a per-src window, so it is exact on the pruned subset) — read
    through zone maps: forward rows live in groups whose src stats
    cover a frontier id, reverse rows in groups whose dst stats do.
    Two point plans, ONE union scan; never a full-table read.  The
    stored dot is symmetric (fp_dot(a,b) == fp_dot(b,a) exactly), so
    the (src, dst) dedup below is deterministic."""
    ps, tot = kt.prune_groups_points("src", frontier)
    pd_, _tot = kt.prune_groups_points("dst", frontier)
    groups = sorted(set(ps) | set(pd_))
    if io is not None:
        io["groups_read"] += len(groups)
        io["groups_total"] += tot
    rows = kt.read_groups(sp, groups)
    fdf = F.broadcast(_ids_df(sp, frontier))
    fwd = rows.join(
        fdf, rows["src"] == fdf["node"], "left_semi"
    ).select("src", "dst", "dot")
    rev = rows.join(
        fdf, rows["dst"] == fdf["node"], "left_semi"
    ).select(F.col("dst").alias("src"), F.col("src").alias("dst"), "dot")
    sym = fwd.unionByName(rev).dropDuplicates(["src", "dst"])
    if cap is not None:
        w_cap = Window.partitionBy("src").orderBy(F.desc("dot"), "dst")
        sym = sym.withColumn("rn", F.row_number().over(w_cap)).filter(
            F.col("rn") <= cap
        )
    return sym.select("src", "dst")


def _pruned_lr_out_edges(
    sp: SparkSession, lt, frontier, io: dict | None = None
) -> DataFrame:
    """Tunnel out-edges of ``frontier`` from the persisted long-range
    table (both directions stored at write, so a src-only point plan
    is complete)."""
    ps, tot = lt.prune_groups_points("src", frontier)
    if io is not None:
        io["groups_read"] += len(ps)
        io["groups_total"] += tot
    rows = lt.read_groups(sp, sorted(ps))
    fdf = F.broadcast(_ids_df(sp, frontier))
    return rows.join(
        fdf, rows["src"] == fdf["node"], "left_semi"
    ).select("src", "dst")


def _pruned_nodes(
    sp: SparkSession, vt, ids, io: dict | None = None
) -> DataFrame:
    """(node, embedding) rows of the vectors table for a bounded id
    set — vec_id-point-planned groups only; ids absent from the table
    simply do not return (callers inner-join, the same semantics the
    full-table join had for dangling tunnel dsts)."""
    picked, tot = vt.prune_groups_points("vec_id", ids)
    if io is not None:
        io["groups_read"] += len(picked)
        io["groups_total"] += tot
    rows = vt.read_groups(sp, sorted(picked)).select(
        F.col("vec_id").alias("node"), "embedding"
    )
    return rows.join(F.broadcast(_ids_df(sp, ids)), "node", "left_semi")


def _pruned_beam_search(
    sp: SparkSession,
    kt,
    lt,
    vt,
    q: DataFrame,
    entry: DataFrame,
    hops: int = NSW_H,
    width: int = NSW_W,
    cap: int | None = None,
    on_candidates=None,
    io: dict | None = None,
) -> DataFrame:
    """operators.similarity.nsw_beam_search semantics with every hop's
    adjacency AND vector lookup planned through zone maps + bloom
    sidecars (round-9 verdict task 1): the frontier (≤ width × |q| ids
    — the bounded planner state any graph-serving engine keeps) picks
    the adjacency groups via src/dst point pruning, candidate
    embeddings come from vec_id-point-planned group reads, and
    long-range tunnels are src-pruned reads of the persisted tunnel
    table.  No full-table scan anywhere in the hop loop — bytes read
    per hop are ∝ groups owning the frontier, never |V|.

    Round 11 (r10 verdict task 3): exactly TWO Spark jobs per hop
    instead of four.  The fold's per-query top-``width`` beam (≤
    |q| × width rows — the same bounded planner state) returns to the
    driver from the score job itself, so the next hop's frontier and
    the candidate-id plan need no separate collect, and the candidate
    frame is persisted for the hop so its one materialization serves
    both the stats pass and the score.  Jobs per hop: (1) candidate
    materialize + per-node counts (plans the vector groups AND yields
    the exact scored-candidate count the stats sidecar records), (2)
    score + fold + beam collect.  Semantics (candidate sets, scores,
    tie-breaks) are bit-identical to the 4-job form — asserted by
    test_pruned_beam_matches_plain_beam."""
    qp = F.broadcast(q)
    wb = Window.partitionBy("query_id").orderBy(F.desc("rel"), "node")

    def score_top(cand: DataFrame, ids) -> list:
        nodes = _pruned_nodes(sp, vt, sorted(ids), io=io)
        return (
            cand.join(nodes, "node")
            .join(qp, "query_id")
            .select(
                "query_id",
                "node",
                fp_dot(F.col("qv"), F.col("embedding")).alias("rel"),
            )
            .withColumn("rn", F.row_number().over(wb))
            .filter(F.col("rn") <= width)
            .select("query_id", "node", "rel")
            .collect()
        )

    e_rows = entry.select("query_id", "node").collect()
    beam_rows = score_top(
        sp.createDataFrame(
            sorted((r.query_id, r.node) for r in e_rows),
            "query_id long, node bigint",
        ),
        {r.node for r in e_rows},
    )
    prev_beam: set = set()
    for _hop in range(hops):
        # fixed-point early termination: the beam determines the
        # frontier, the frontier the edges, the edges the candidates,
        # the candidates the next beam — all deterministically — so a
        # repeated beam proves every remaining hop is a no-op.  The
        # returned beam is bit-identical to running all ``hops``
        # (converged serve/maintenance beams at ×10 spent half their
        # hops re-scoring the same candidate set).
        cur = {(r.query_id, r.node) for r in beam_rows}
        if cur == prev_beam:
            break
        prev_beam = cur
        frontier = sorted({r.node for r in beam_rows})
        edges = _pruned_sym_out_edges(sp, kt, frontier, cap, io=io)
        if lt is not None and lt.latest_version() >= 0:
            edges = edges.unionByName(
                _pruned_lr_out_edges(sp, lt, frontier, io=io)
            ).dropDuplicates(["src", "dst"])
        beam_df = sp.createDataFrame(
            sorted((r.query_id, r.node) for r in beam_rows),
            "query_id long, node bigint",
        )
        cand = (
            beam_df.unionByName(
                beam_df.alias("s")
                .join(
                    edges.alias("e"), F.col("s.node") == F.col("e.src")
                )
                .select(
                    F.col("s.query_id").alias("query_id"),
                    F.col("e.dst").alias("node"),
                )
            )
            .dropDuplicates(["query_id", "node"])
            .persist()
        )
        # job 1: one pass materializes cand into the hop-local cache
        # and returns (node → pair count): the distinct candidate ids
        # (vector-group plan) plus the exact candidate-pair total
        grp = cand.groupBy("node").count().collect()
        if on_candidates is not None:
            on_candidates(int(sum(r["count"] for r in grp)))
        # job 2: score against point-planned embeddings, fold to the
        # per-query top-width, return the beam to the driver
        beam_rows = score_top(cand, (int(r.node) for r in grp))
        cand.unpersist()
    return sp.createDataFrame(
        sorted((r.query_id, r.node, r.rel) for r in beam_rows),
        "query_id long, node bigint, rel long",
    )


def _pruned_beam_search_local(
    sp: SparkSession,
    kt,
    lt,
    vt,
    q: DataFrame,
    entry_node,
    hops: int,
    width: int,
    io: dict | None = None,
) -> list:
    """Serve-path variant of :func:`_pruned_beam_search` for
    DRIVER-SMALL query sets (|q| ≤ a few dozen — the declared gates'
    8-query workload): the beam state (≤ |q| × width (query, node,
    rel) tuples — the planner state any graph-serving engine keeps
    per request) lives on the driver, so each hop costs AT MOST two
    jobs — one bounded frontier-edge read, one score — with no
    lineage checkpoints.  Expansion/rescore/top-width semantics are
    identical to nsw_beam_search over the same edge set; the
    distributed variant stays the maintenance path, whose query set
    is the whole micro-batch.  Returns the final beam as a list of
    (query_id, node, rel) rows.

    Round 11 — VISITED STATE (what every graph-serving engine keeps
    per request): within one serve call the store is frozen, so a
    node's symmetrized+tunnel out-edges and a (query, node) score are
    pure functions — both are memoized on the driver (bounded by the
    visited set: ≤ seeds + hops·width·|q| nodes).  Each hop therefore
    reads ONLY groups owning never-expanded frontier nodes and scores
    ONLY never-scored pairs; and a repeated beam is a fixed point (the
    beam determines the frontier, the frontier the edges, the edges
    the candidates, the candidates the next beam — all
    deterministically), so the loop breaks early with a bit-identical
    result.  The per-query top-width fold runs on the driver with the
    exact Window.orderBy(desc(rel), node) tie-break over the exact
    integer rels.  Equality with the single-plan lazy serve is
    asserted by test_descent_serve_paths_agree."""
    import math
    from collections import namedtuple

    from .operators.similarity import FP_SCALE

    BeamRow = namedtuple("BeamRow", ["query_id", "node", "rel"])

    rel_memo: dict = {}  # (query_id, node) -> rel (exact long)
    emb_memo: dict = {}  # node -> embedding (list of floats), read ONCE
    missing: set = set()  # nodes with no stored embedding (dangling)
    adj: dict = {}  # node -> tuple of out-neighbors (sym ∪ tunnels)
    has_lr = lt is not None and lt.latest_version() >= 0
    qvs = {
        r.query_id: list(r.qv)
        for r in q.select("query_id", "qv").collect()
    }
    fscale = float(FP_SCALE)

    def fetch(ids) -> None:
        # each node's vector group is read AT MOST ONCE per serve call
        # (the embedding memo): without it every hop re-reads the
        # groups of nodes another query already scored, and since
        # tunnel candidates are hash-random ids, that re-read set
        # spans ~every group every hop (measured ×10: 33/33 vector
        # groups per hop, 4 hops, vs ≤ 1 visit per group here)
        todo = sorted(
            n for n in ids if n not in emb_memo and n not in missing
        )
        if not todo:
            return
        for r in _pruned_nodes(sp, vt, todo, io=io).collect():
            emb_memo[r.node] = list(r.embedding)
        for n in todo:
            if n not in emb_memo:
                missing.add(n)

    def score(pairs) -> None:
        # driver-side fixed-point dot — the EXACT integer fp_dot
        # computes (floor(x·y·2^24 + 0.5) summed over components, on
        # the identical IEEE doubles), so the memoized rels are
        # bit-identical to the Spark expression's; asserted against
        # the full lazy plan by test_descent_serve_paths_agree
        fetch({n for _, n in pairs})
        floor = math.floor
        for p in pairs:
            if p in rel_memo:
                continue
            emb = emb_memo.get(p[1])
            if emb is None:
                continue
            qv = qvs[p[0]]
            rel_memo[p] = sum(
                floor(x * y * fscale + 0.5) for x, y in zip(qv, emb)
            )

    def fold(pairs) -> list:
        byq: dict = {}
        for qid, node in pairs:
            r = rel_memo.get((qid, node))
            if r is not None:
                byq.setdefault(qid, []).append((-r, node))
        beam = []
        for qid in sorted(byq):
            lst = byq[qid]
            lst.sort()  # (-rel, node): desc rel then asc node — the
            # exact Window.orderBy(F.desc("rel"), "node") tie-break
            beam.extend(
                BeamRow(qid, node, -negr) for negr, node in lst[:width]
            )
        return beam

    def expand(frontier) -> None:
        new = sorted(n for n in frontier if n not in adj)
        if not new:
            return
        edges = _pruned_sym_out_edges(sp, kt, new, cap=None, io=io)
        if has_lr:
            edges = edges.unionByName(
                _pruned_lr_out_edges(sp, lt, new, io=io)
            ).dropDuplicates(["src", "dst"])
        got: dict = {n: set() for n in new}
        for r in edges.collect():
            got[r.src].add(r.dst)
        for n in new:
            adj[n] = tuple(sorted(got[n]))

    qids = sorted(r.query_id for r in q.select("query_id").collect())
    if isinstance(entry_node, int):
        seed_pairs = [(qid, entry_node) for qid in qids]
    else:  # per-query (query_id, node) seed pairs — shared with the
        # lazy path so both serve plans walk the identical beam
        seed_pairs = sorted(set(entry_node))
    score(seed_pairs)
    beam = fold(seed_pairs)
    prev: set = set()
    for _hop in range(hops):
        cur = {(r.query_id, r.node) for r in beam}
        if cur == prev:
            break
        prev = cur
        expand({r.node for r in beam})
        pairs = set(cur)
        for r in beam:
            for d in adj.get(r.node, ()):
                pairs.add((r.query_id, d))
        score(pairs)
        beam = fold(pairs)
    return beam


def _serve_entries(
    sp: SparkSession, vt, q: DataFrame, lo: int, span: int, n: int,
    rt=None,
) -> list:
    """Per-query serve-beam entry points (round 11): each query's best
    _DESCENT_MV_ENTRIES nodes among the persisted per-list
    REPRESENTATIVES (the recluster's coarse-quantizer seeds — real
    graph nodes, one per IVF list, a single bounded read of the tiny
    ``reps`` table), PLUS the global-min anchor every pre-r11 serve
    entered at.  The reps guarantee entry coverage of every semantic
    neighborhood — the measured ×10 failure of the sampled form was a
    query whose cluster the 64-node sample missed: the greedy beam
    never navigated there and its recall@10 was 0/10 — while the
    anchor keeps the r10 navigation baseline as a floor.  Before a
    first recluster (no reps table yet) the sampled draw is the
    fallback.  Deterministic either way.  Returns a sorted list of
    (query_id, node) tuples."""
    import hashlib as _hashlib

    w_ent = Window.partitionBy("query_id").orderBy(F.desc("rel"), "node")
    if rt is not None and rt.latest_version() >= 0:
        samp = rt.read(sp).select("node", "embedding")
    else:
        density = max(n / span, 1e-9)
        m = min(
            span,
            64 * _DESCENT_MV_ENTRY_SAMPLE,
            int(_DESCENT_MV_ENTRY_SAMPLE / density) + 1,
        )
        draw = sorted(
            {
                lo
                + int(
                    _hashlib.md5(f"serve_ent_{i}".encode()).hexdigest()[:8],
                    16,
                )
                % span
                for i in range(m)
            }
        )
        samp = (
            _pruned_nodes(sp, vt, draw)
            .orderBy(F.xxhash64("node"), "node")
            .limit(2 * _DESCENT_MV_ENTRY_SAMPLE)
        )
    rows = (
        q.crossJoin(samp)
        .select(
            "query_id",
            "node",
            fp_dot(F.col("qv"), F.col("embedding")).alias("rel"),
        )
        .withColumn("rn", F.row_number().over(w_ent))
        .filter(F.col("rn") <= _DESCENT_MV_ENTRIES)
        .select("query_id", "node")
        .collect()
    )
    qids = {r.query_id for r in q.select("query_id").collect()}
    pairs = {(r.query_id, r.node) for r in rows}
    pairs |= {(qid, lo) for qid in qids}  # navigation anchor
    return sorted(pairs)


def _descent_mv_refresh_inner(
    sp: SparkSession,
    vec_root: str,
    knn_root: str,
    stats_path: str,
    bdf: DataFrame,
    batch_id: int,
    txn_family: tuple[str, str],
) -> None:
    import hashlib as _hashlib
    import json as _json

    from .plans.txlog import TxTable

    w_top = Window.partitionBy("src").orderBy(F.desc("dot"), "dst")
    b = bdf.select("vec_id", "embedding").localCheckpoint()
    vt, kt = TxTable(vec_root), TxTable(knn_root)
    lt = TxTable(os.path.join(os.path.dirname(knn_root), "lr"))
    k_before = kt.latest_version()
    n_batch = b.count()
    # metadata-only corpus count — the full-scan count() this replaces
    # was itself per-batch I/O proportional to |V|
    n_corpus = vt.count_rows(sp) if vt.latest_version() >= 0 else 0
    io = {"groups_read": 0, "groups_total": 0}
    if k_before < 0 or n_corpus == 0:
        # bootstrap: NN-descent WITHIN the batch (linear in |B|),
        # rescored to the directed per-src top-M the MV maintains.
        # ``n_corpus == 0`` is the crash-replay re-entry (r9 ADVICE):
        # if batch 0's knn commit landed but the vector append did
        # not, redelivery re-runs this branch — the knn commit
        # txn-no-ops — instead of dereferencing an empty vectors table
        edges0 = nsw_build_edges_descent(b)
        scored0 = _score_pairs(b, edges0)
        n_cand = edges0.count()
        first = (
            scored0.withColumn("rn", F.row_number().over(w_top))
            .filter(F.col("rn") <= NSW_M)
            .select("src", "dst", "dot")
        )
        kt.commit_append(first, txn=(txn_family[0], batch_id))
    else:
        # 1. seed: batch vectors beam-search the live graph THROUGH
        # the store — every hop's adjacency/vector read is zone-map
        # point-planned (round-9 verdict task 1: the candidate COUNT
        # was already corpus-independent; this makes the bytes READ
        # per batch frontier-proportional too).  Beam entries come
        # from ~ENTRY_SAMPLE corpus nodes scored per batch vector;
        # their ids are drawn deterministically from the vec_id
        # zone-map domain (metadata-only) and point-read — the
        # hash-sample FILTER over the full corpus this replaces was a
        # per-batch full scan.
        qb = b.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
        )
        rt = TxTable(os.path.join(os.path.dirname(knn_root), "reps"))
        if rt.latest_version() >= 0:
            # round 11: entry candidates = the persisted per-list
            # REPRESENTATIVES (coarse-quantizer seeds — one real node
            # per IVF list, written by the recluster).  One bounded
            # read covers every semantic neighborhood, so each batch
            # vector's beam STARTS inside its own cluster and the
            # navigation frontier never has to cross the corpus — the
            # global id-domain sample below starts half the beams in
            # the wrong cluster (~50% coverage of a 200-cluster corpus
            # at 128 draws) and their mid-navigation frontiers were
            # exactly the measured ~all-groups maintenance reads.
            # Scorings per batch vector = n_lists ~ 4·√n (the standard
            # IVF coarse-probe cost) — counted into the budget gate
            # below like every other candidate.
            samp = rt.read(sp).select("node", "embedding")
        else:
            lo, hi = vt.column_range("vec_id")
            span = int(hi) - int(lo) + 1
            density = max(n_corpus / span, 1e-9)
            # cap the draw at a constant multiple of the sample target
            # so a sparse id domain (gaps, deletions) can never
            # degenerate this into an O(span) driver loop — fewer
            # survivors is the accepted trade (r10 ADVICE #2); the
            # dense fixtures are unaffected (density 1 → m = SAMPLE+1
            # ≪ the cap)
            m = min(
                span,
                64 * _DESCENT_MV_ENTRY_SAMPLE,
                int(_DESCENT_MV_ENTRY_SAMPLE / density) + 1,
            )
            draw = sorted(
                {
                    int(lo)
                    + int(
                        _hashlib.md5(
                            f"ent_{batch_id}_{i}".encode()
                        ).hexdigest()[:8],
                        16,
                    )
                    % span
                    for i in range(m)
                }
            )
            # cap the survivors at 2·ENTRY_SAMPLE so the per-vector
            # budget term (2·ENTRY_SAMPLE scorings) holds regardless of
            # draw luck; the hash order keeps the kept subset spread,
            # not id-biased
            samp = (
                _pruned_nodes(sp, vt, draw, io=io)
                .orderBy(F.xxhash64("node", F.lit(batch_id)), "node")
                .limit(2 * _DESCENT_MV_ENTRY_SAMPLE)
            )
        ent_scored = (
            qb.crossJoin(samp)
            .select(
                "query_id",
                "node",
                fp_dot(F.col("qv"), F.col("embedding")).alias("rel"),
            )
            .localCheckpoint()
        )
        n_entry_scored = ent_scored.count()
        w_ent = Window.partitionBy("query_id").orderBy(
            F.desc("rel"), "node"
        )
        entries = (
            ent_scored.withColumn("rn", F.row_number().over(w_ent))
            .filter(F.col("rn") <= _DESCENT_MV_ENTRIES)
            .select("query_id", "node")
        )
        seed_counts: list[int] = [n_entry_scored]
        # navigation = degree-capped symmetrized adjacency + persisted
        # tunnels, both materialized PER HOP for the frontier only
        beam = _pruned_beam_search(
            sp,
            kt,
            lt,
            vt,
            qb,
            entries,
            cap=_DESCENT_MV_DEGREE,
            on_candidates=seed_counts.append,
            io=io,
        )
        cand = (
            beam.select(
                F.col("query_id").alias("src"),
                F.col("node").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .localCheckpoint()
        )
        # 2. descent delta rounds over the batch frontier +
        #    intra-batch descent + reversals.  The expansion per round
        #    reads ONLY the groups owning the current dst frontier —
        #    the per-src top-D cap is a local window, so the capped
        #    edges equal the full-table form exactly.
        for _ in range(_DESCENT_MV_ROUNDS):
            dst_ids = sorted(
                {r.dst for r in cand.select("dst").distinct().collect()}
            )
            exp = _pruned_sym_out_edges(
                sp, kt, dst_ids, cap=_DESCENT_MV_DEGREE, io=io
            )
            hop = (
                cand.alias("a")
                .join(exp.alias("g"), F.col("a.dst") == F.col("g.src"))
                .select(
                    F.col("a.src").alias("src"),
                    F.col("g.dst").alias("dst"),
                )
            )
            cand = (
                cand.unionByName(hop)
                .filter(F.col("src") != F.col("dst"))
                .dropDuplicates(["src", "dst"])
                .localCheckpoint()
            )
        intra = nsw_build_edges_descent(b)
        fwd = cand.unionByName(intra).dropDuplicates(["src", "dst"])
        pairs = (
            fwd.unionByName(
                fwd.select(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                )
            )
            .dropDuplicates(["src", "dst"])
            .localCheckpoint()
        )
        # score the pairs against a bounded lookup: the batch's own
        # vectors (in memory) ∪ point-planned reads of every corpus
        # endpoint — never prev ∪ b as a full-table join
        pid = sorted(
            {
                r.i
                for r in pairs.select(
                    F.explode(F.array("src", "dst")).alias("i")
                )
                .distinct()
                .collect()
            }
        )
        lookup = _pruned_nodes(sp, vt, pid, io=io).unionByName(
            b.select(F.col("vec_id").alias("node"), "embedding")
        )
        scored = (
            pairs.join(
                lookup.select(
                    F.col("node").alias("src"),
                    F.col("embedding").alias("va"),
                ),
                "src",
            )
            .join(
                lookup.select(
                    F.col("node").alias("dst"),
                    F.col("embedding").alias("vb"),
                ),
                "dst",
            )
            .select(
                "src",
                "dst",
                fp_dot(F.col("va"), F.col("vb")).alias("dot"),
            )
            .localCheckpoint()
        )
        n_cand = scored.count() + sum(seed_counts)
        # 3. localized fold: re-window ONLY the touched srcs — and
        # READ only the groups owning them (the full-read + semi-join
        # this replaces scanned the whole adjacency per batch)
        touched_ids = sorted(
            {r.src for r in scored.select("src").distinct().collect()}
        )
        tp, t_tot = kt.prune_groups_points("src", touched_ids)
        io["groups_read"] += len(tp)
        io["groups_total"] += t_tot
        tdf = F.broadcast(_ids_df(sp, touched_ids))
        kt_rows = kt.read_groups(sp, sorted(tp))
        old_t = kt_rows.join(
            tdf, kt_rows["src"] == tdf["node"], "left_semi"
        ).select("src", "dst", "dot").localCheckpoint()
        new_t = (
            old_t.unionByName(scored)
            .dropDuplicates(["src", "dst"])
            .withColumn("rn", F.row_number().over(w_top))
            .filter(F.col("rn") <= NSW_M)
            .select("src", "dst", "dot")
            .localCheckpoint()
        )
        changes = (
            new_t.exceptAll(old_t)
            .withColumn("op", F.lit("upsert"))
            .unionByName(
                old_t.exceptAll(new_t).withColumn("op", F.lit("delete"))
            )
        )
        kt.apply_cdc(
            sp, changes, ["src", "dst"], txn=(txn_family[0], batch_id)
        )
    # persist THIS batch's tunnels (md5-stateless, both directions) —
    # replaces the nsw_longrange_edges(prev) full-corpus map pass the
    # old navigation graph re-derived every micro-batch.  The modulo
    # domain assumes zero-based ids; fail LOUDLY on a shifted domain
    # instead of silently dangling every tunnel (r10 ADVICE #3)
    if n_corpus > 0:
        lo_dom, _hi_dom = vt.column_range("vec_id")
        if lo_dom is not None and int(lo_dom) != 0:
            raise ValueError(
                "descent-MV tunnels assume a zero-based vec_id domain; "
                f"stored ids start at {lo_dom}"
            )
    lr = _descent_lr_links(b, n_corpus + n_batch)
    lt.commit_append(lr, txn=("nswd_lr", batch_id))
    vt.commit_append(b, txn=(txn_family[1], batch_id))
    # bloom sidecars for THIS batch's fresh groups (add_bloom_index is
    # incremental — already-indexed groups are skipped, replayed no-op
    # batches find nothing to do): without them every CDC delta group
    # is a permanent "always read" in the point plans, and at steady
    # state the unindexed tail is exactly what blunts pruning.  Cost is
    # ∝ the batch's new groups, never the table (round 11).
    for t, cols in (
        (kt, ("src", "dst")),
        (lt, ("src",)),
        (vt, ("vec_id",)),
    ):
        for c in cols:
            t.add_bloom_index(sp, c, bits_per_key=32, k=22)
    if kt.latest_version() != k_before:  # not a replayed no-op
        with open(stats_path, "a") as fh:
            fh.write(
                _json.dumps(
                    {
                        "batch": batch_id,
                        "n_batch": n_batch,
                        "n_corpus": n_corpus,
                        "candidates": n_cand,
                        "groups_read": io["groups_read"],
                        "groups_total": io["groups_total"],
                    }
                )
                + "\n"
            )


def descent_mv_repair(
    sp: SparkSession,
    vec_root: str,
    knn_root: str,
    stats_path: str,
    rounds: int = _DESCENT_MV_REPAIR_ROUNDS,
) -> None:
    """Full-graph NN-descent repair round(s) over the maintained
    adjacency — the compaction-analog maintenance op that heals the
    staleness incremental refreshes cannot: a node ingested early keeps
    serving its then-best top-M even after closer neighbors arrive in
    later batches, unless a batch candidate happens to touch it.  Each
    round every node proposes its capped symmetrized neighbors'
    neighbors (≤ D² pairs/node, D = _DESCENT_MV_DEGREE), pairs already
    in the adjacency are anti-joined out before scoring (their dot is
    known), and only the changed per-src top-M edges commit — the same
    atomic CDC delta shape as the per-batch refresh.  Cost is LINEAR in
    |V| per round (≤ D·(D+1) new scorings/node, asserted into the
    maintenance-stats sidecar under the ``repair`` key), against the
    exact tier's |V|² rebuild; at 10⁹ vectors this runs on a schedule
    exactly like parquet file compaction.  Reference analog: the
    periodic full QA re-verification after incremental patch rounds
    (azanium/pseudoace.py:105-110)."""
    import json as _json

    from .plans.txlog import TxTable

    _CP = "spark.sql.constraintPropagation.enabled"
    cp_prev = sp.conf.get(_CP, "true")
    sp.conf.set(_CP, "false")
    try:
        vt, kt = TxTable(vec_root), TxTable(knn_root)
        allv = (
            vt.read(sp).select("vec_id", "embedding").localCheckpoint()
        )
        n_corpus = allv.count()
        w_top = Window.partitionBy("src").orderBy(F.desc("dot"), "dst")
        w_cap = Window.partitionBy("src").orderBy(F.desc("dot"), "dst")
        for r in range(rounds):
            old = (
                kt.read(sp)
                .select("src", "dst", "dot")
                .localCheckpoint()
            )
            sym = (
                old.unionByName(
                    old.select(
                        F.col("dst").alias("src"),
                        F.col("src").alias("dst"),
                        "dot",
                    )
                )
                .dropDuplicates(["src", "dst"])
                .withColumn("rn", F.row_number().over(w_cap))
                .filter(F.col("rn") <= _DESCENT_MV_DEGREE)
                .select("src", "dst")
                .localCheckpoint()
            )
            hop = (
                sym.alias("a")
                .join(sym.alias("g"), F.col("a.dst") == F.col("g.src"))
                .select(
                    F.col("a.src").alias("src"),
                    F.col("g.dst").alias("dst"),
                )
            )
            pairs = (
                sym.unionByName(hop)
                .filter(F.col("src") != F.col("dst"))
                .dropDuplicates(["src", "dst"])
                .join(
                    old.select("src", "dst"),
                    ["src", "dst"],
                    "left_anti",
                )
                .localCheckpoint()
            )
            scored = _score_pairs(allv, pairs).localCheckpoint()
            n_cand = scored.count()
            new_t = (
                old.unionByName(scored)
                .dropDuplicates(["src", "dst"])
                .withColumn("rn", F.row_number().over(w_top))
                .filter(F.col("rn") <= NSW_M)
                .select("src", "dst", "dot")
                .localCheckpoint()
            )
            changes = (
                new_t.exceptAll(old)
                .withColumn("op", F.lit("upsert"))
                .unionByName(
                    old.exceptAll(new_t).withColumn(
                        "op", F.lit("delete")
                    )
                )
            )
            # txn identity = the adjacency version this round READ: a
            # crash-and-retry of the same round replays the same id and
            # no-ops once the commit landed, while a LATER scheduled
            # repair (new version) gets a fresh id — a fixed per-round
            # id would silently no-op all future scheduled repairs
            # against the build-time txn
            k_before = kt.latest_version()
            kt.apply_cdc(
                sp, changes, ["src", "dst"], txn=("nswd_repair", k_before)
            )
            if kt.latest_version() == k_before:  # replayed no-op
                continue
            with open(stats_path, "a") as fh:
                fh.write(
                    _json.dumps(
                        {
                            "repair": r,
                            "n_corpus": n_corpus,
                            "candidates": n_cand,
                        }
                    )
                    + "\n"
                )
    finally:
        sp.conf.set(_CP, cp_prev)


def descent_mv_recluster(
    spark: SparkSession,
    vec_root: str,
    knn_root: str,
    lr_root: str,
    target_groups: int | None = None,
) -> None:
    """Post-repair compaction of the descent-MV store tables, clustered
    by a SEMANTIC key (round-10 verdict task 1): each node's IVF list id
    (deterministic coarse quantizer over the live corpus) orders the
    rewrite instead of the raw ``vec_id``/``src``, and every probe
    column gets a bloom sidecar (``add_bloom_index``).  Why: beam
    frontiers are semantic neighborhoods — under id-range zone maps
    they prune only when ids happen to correlate with semantics
    (ingestion-ordered corpora), and the committed r10 adversarial
    layout (cluster = id mod 200) degraded every point plan to a full
    scan.  Clustering by list id makes a frontier's nodes CO-RESIDENT
    in few groups on ANY id layout, and the bloom sidecars answer
    "which groups hold these ids" exactly where the now-wide id min/max
    cannot (``prune_groups_points`` composes both).  The adjacency's
    dst column is bloom-indexed too, so the reverse-edge half of each
    hop prunes as tightly as the forward half (r10 ADVICE #4: a
    src-only cluster key left dst plans unprunable).  Pure layout — row
    content, graph, and every declared result unchanged; runs on the
    repair/compaction schedule, LINEAR in |V| (one assignment pass +
    the rewrite OPTIMIZE always paid)."""
    from .operators.similarity import ivf_assign
    from .plans.txlog import TxTable

    vt, kt, lt = TxTable(vec_root), TxTable(knn_root), TxTable(lr_root)
    rt = TxTable(os.path.join(os.path.dirname(vec_root), "reps"))
    n = vt.count_rows(spark)
    if n == 0:
        # no live vectors: no seeds to quantize around, nothing to cluster
        return
    allv = vt.read(spark).select("vec_id", "embedding")
    if target_groups is None:
        # scale-adaptive group count: ~650 vector rows (≈ a couple
        # hundred KB at dim 64) per group at toy scale so pruning has
        # granularity to skip; a production compactor sizes groups by
        # BYTES (operators/compaction) — this is the row-count analog,
        # env-overridable like the other scale knobs
        target_groups = int(
            os.environ.get(
                "SPARK_GRAFT_ANN_RECLUSTER_GROUPS", max(8, round(n / 650))
            )
        )
    # the coarse quantizer must have enough centroids to give every
    # natural cluster a nearby seed — too few (e.g. 4 × groups) makes
    # unseeded clusters SHATTER across lists on noise and beams never
    # localize (measured at ×10: 64 lists over a 200-cluster corpus
    # left converged serve frontiers spanning 20/22 groups).  The
    # standard IVF sizing is ~4·√n lists.
    n_lists = min(int(n), max(32, 4 * int(n**0.5)))
    # deterministic_centroids inlined WITH the seed id retained: the
    # hash-chosen seeds are corpus NODES, so each list's seed doubles as
    # its navigation REPRESENTATIVE (round 11) — a real graph node at
    # the list's Voronoi center, persisted to the tiny ``reps`` table so
    # serve/maintenance beams can route per-query entries to the right
    # semantic neighborhood from ONE bounded read (the IVF-coarse-
    # quantizer / HNSW-upper-layer analog) instead of a global id-domain
    # sample whose cluster coverage is luck (measured ×10: a 64-node
    # sample over a 200-cluster corpus missed a query's cluster and its
    # greedy beam never navigated there — recall@10 0/10 for that query)
    seeds = (
        allv.select(
            F.col("vec_id").alias("__id"),
            F.col("embedding").alias("centroid"),
            F.xxhash64(F.col("vec_id").cast("string")).alias("__h"),
        )
        .orderBy("__h", "__id")
        .limit(n_lists)
    ).localCheckpoint()
    # list ids are SEMANTICALLY SERIATED (round 11): a deterministic
    # greedy nearest-neighbor chain over the seed centroids (start at
    # the hash-first seed, always hop to the most-similar unvisited
    # seed) assigns ADJACENT list ids to mutually-nearest seeds, so
    # the range-clustered rewrite puts a natural cluster's lists in
    # the SAME group.  Hash-ordered ids scattered a ~3-list natural
    # cluster into 3 arbitrary groups (measured ×10: an 8-cluster
    # serve beam's adjacency hops read 28-30/33 groups where the
    # clusters occupy ~8); a 1-D projection order cannot separate
    # hundreds of clusters (concentration of measure), and a
    # second-level quantizer splits clusters whose center lies between
    # two supers (both measured).  The chain is metadata-scale work on
    # n_lists ≈ 4·√n rows at compaction time — numpy float64, fixed
    # start, index tie-breaks: fully deterministic.
    import numpy as _np

    seed_rows = seeds.orderBy("__h", "__id").collect()
    mat = _np.asarray(
        [list(r.centroid) for r in seed_rows], dtype=_np.float64
    )
    m_seeds = len(seed_rows)
    sims = mat @ mat.T  # (m, m) exact-enough ordering metric
    order: list[int] = [0]
    unvisited = _np.ones(m_seeds, dtype=bool)
    unvisited[0] = False
    cur = 0
    for _ in range(m_seeds - 1):
        row = sims[cur].copy()
        row[~unvisited] = -_np.inf
        cur = int(row.argmax())  # first index wins ties: deterministic
        unvisited[cur] = False
        order.append(cur)
    rank_map = spark.createDataFrame(
        [
            (int(seed_rows[i]["__id"]), rk)
            for rk, i in enumerate(order)
        ],
        "__rid long, list_id int",
    )
    seeds = (
        seeds.join(rank_map, seeds["__id"] == rank_map["__rid"])
        .select("list_id", F.col("__id").alias("node"), "centroid")
        .localCheckpoint()
    )
    cents = seeds.select("list_id", "centroid")
    amap = (
        ivf_assign(allv, cents)
        .select("vec_id", F.col("list_id").alias("__ckey"))
        .localCheckpoint()
    )
    reps = seeds.select("list_id", "node", F.col("centroid").alias("embedding"))
    if rt.latest_version() >= 0:
        old = rt.read(spark).select("list_id", "node", "embedding")
        changes = (
            reps.exceptAll(old)
            .withColumn("op", F.lit("upsert"))
            .unionByName(
                old.join(reps, "list_id", "left_anti").withColumn(
                    "op", F.lit("delete")
                )
            )
        )
        rt.apply_cdc(
            spark,
            changes,
            ["list_id"],
            txn=("nswd_reps", vt.latest_version()),
        )
    else:
        rt.commit_append(reps, txn=("nswd_reps", vt.latest_version()))
    amap_src = amap.withColumnRenamed("vec_id", "src")
    kt.optimize(
        spark,
        sort_key=["src", "dst"],
        target_groups=target_groups,
        cluster_map=(amap_src, "src"),
    )
    lt.optimize(
        spark,
        sort_key=["src", "dst"],
        target_groups=target_groups,
        cluster_map=(amap_src, "src"),
    )
    vt.optimize(
        spark,
        sort_key=["vec_id"],
        target_groups=target_groups,
        cluster_map=(amap, "vec_id"),
    )
    # batched-probe sizing: a beam frontier probes THOUSANDS of ids per
    # plan, so a group is falsely kept if ANY probe false-positives —
    # P(keep wrongly) ≈ |probes| × fpp.  The single-point default
    # (10 bits/key, fpp ≈ 1.2%) saturates at ~100 probes; 32 bits/key
    # with k = 22 gives fpp ≈ 2⁻²² — ≈ 0.4% per group even at a
    # 15k-id maintenance frontier, for 4 bytes/row of sidecar
    for t, cols in ((kt, ("src", "dst")), (lt, ("src",)), (vt, ("vec_id",))):
        for c in cols:
            t.add_bloom_index(spark, c, bits_per_key=32, k=22)


def _ensure_stream_nsw_descent_mv(spark: SparkSession, sf_dir: str):
    """Incremental kNN-graph maintenance whose per-batch cost is
    ∝ |B|·beam·degree — NEVER |B|·|V| — the approximate scale path
    SCALE.md names beside the exact tier (_ensure_stream_nsw_mv, its
    verification twin: exact tier gates, this tier serves at 10⁹
    vectors).  Per micro-batch B against corpus-so-far V:

    1. SEED — beam-search each batch vector THROUGH the live stored
       graph (nsw_beam_search over the symmetrized adjacency): per
       vector ≤ hops × width × (degree+1) scored candidates, giving
       its ~top-W existing neighbors without touching the corpus;
    2. DELTA ROUNDS — NN-descent's "my neighbors' neighbors" applied
       only to the batch frontier: expand the candidate dsts one graph
       hop per round (≤ |B|·W·2M new pairs per round), plus an
       intra-batch NN-descent build (linear in |B| — batch entrants
       must be able to pair with each other), plus every pair
       REVERSED so existing nodes can adopt batch entrants;
    3. LOCALIZED FOLD — re-window the per-src top-M only for srcs with
       ≥ 1 new candidate (the exact tier re-windows the ENTIRE
       adjacency each batch), and commit only the changed edges as one
       atomic CDC delta (apply_cdc) under txn ("nswd_knn", batch);
    4. B appends to the vectors table under txn ("nswd_vec", batch).

    Every batch's scored-candidate count lands in
    ``maintenance_stats.jsonl`` beside the store; the declared query's
    ``bounded`` gate asserts candidates < |B|·|V| for every post-
    bootstrap batch — the property that separates this plan from the
    exact tier's batch×corpus cross-join.  Batch 0 bootstraps with the
    in-batch NN-descent build and is adversarially replayed after the
    drain (must version-no-op both tables)."""
    from .plans.txlog import TxTable
    from .queries_e2e import _fx

    root = _fx(sf_dir, "txlog_stream_nsw_descent_mv")
    done = os.path.join(root, "_BUILD_DONE")
    vec_root = os.path.join(root, "vectors")
    knn_root = os.path.join(root, "knn")
    stats_path = os.path.join(root, "maintenance_stats.jsonl")
    if os.path.exists(done):
        return TxTable(knn_root), stats_path
    shutil.rmtree(root, ignore_errors=True)
    src_dir = os.path.join(root, "src")
    os.makedirs(src_dir, exist_ok=True)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    for i in range(_N_SLICES):
        tmp = os.path.join(root, f"_tmp{i}")
        emb.filter(F.col("vec_id") % _N_SLICES == i).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.rename(part, os.path.join(src_dir, f"slice_{i}.parquet"))
        shutil.rmtree(tmp)

    def refresh(bdf: DataFrame, batch_id: int) -> None:
        descent_mv_refresh(
            bdf.sparkSession,
            vec_root,
            knn_root,
            stats_path,
            bdf,
            batch_id,
        )

    schema = emb.schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(refresh)
        .option("checkpointLocation", os.path.join(root, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    if q.isActive:
        q.stop()
        raise RuntimeError("nsw descent mv stream drain did not finish")
    kt, vt = TxTable(knn_root), TxTable(vec_root)
    before = (kt.latest_version(), vt.latest_version())
    refresh(emb.filter(F.col("vec_id") % _N_SLICES == 0), 0)
    if (kt.latest_version(), vt.latest_version()) != before:
        shutil.rmtree(root, ignore_errors=True)
        raise RuntimeError(
            "replayed batch 0 must no-op both tables (txn dedup broke)"
        )
    # post-drain repair round: heal the staleness touch-only folds
    # leave behind (linear in |V| — the compaction-analog schedule)
    descent_mv_repair(spark, vec_root, knn_root, stats_path)
    # compaction-analog OPTIMIZE on the same schedule as the repair:
    # per-batch CDC deltas leave the store interleaved across small
    # file groups, which blunts the point plans the pruned
    # maintenance/serve beams rely on.  Round 11: the rewrite clusters
    # by the SEMANTIC key (IVF list id) + bloom sidecars, so frontier
    # plans stay tight on id-scattered corpora too.  Pure rewrite —
    # row content unchanged.
    descent_mv_recluster(
        spark, vec_root, knn_root, os.path.join(root, "lr")
    )
    with open(done, "w"):
        pass
    return kt, stats_path


def _descent_mv_bounded(stats_path: str) -> bool:
    """True iff every post-bootstrap batch's scored-candidate count
    stayed within the CORPUS-INDEPENDENT per-vector budget
    (_DESCENT_MV_BUDGET — a constant of beam hops/width, the degree
    cap, and the delta-round count).  The exact tier's cost is
    |B|·|V| — linear in the corpus — so this bound is exactly the
    property that separates the two maintenance plans; the cross-tier
    measurement at ×10 corpus lives in tools/scale_round9.py."""
    import json as _json

    ok = True
    with open(stats_path) as fh:
        for line in fh:
            s = _json.loads(line)
            if "repair" in s:
                # repair rounds are LINEAR in the corpus by design:
                # ≤ D·(D+1) new scorings per node per round
                ok = ok and (
                    s["candidates"]
                    <= s["n_corpus"] * _DESCENT_MV_REPAIR_BUDGET
                )
            elif s["n_corpus"] > 0:
                ok = ok and (
                    s["candidates"] <= s["n_batch"] * _DESCENT_MV_BUDGET
                )
    return ok


def q_stream_nsw_descent_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph ANN served from the DESCENT-maintained streaming adjacency
    (_ensure_stream_nsw_descent_mv).  Two-boolean gate: the
    ann_nsw_descent_topk recall contract (mean recall@10 vs the
    fixed-point-dot exact top-10 ≥ 0.7 — the graph is approximate by
    design, its exact twin stream_nsw_mv carries the bit-exact oracle;
    post-repair measured 0.825 at sf0.001 / 0.9 at sf0.01,
    deterministic by construction)
    AND ``bounded`` — every post-bootstrap batch's scored-candidate
    count was strictly below |B|·|V|, read from the maintenance-stats
    sidecar the stream wrote as it ran.  Together they certify the
    100 TB property: maintenance cost proportional to the batch and
    the graph degree, not the corpus.

    Round-10: the serve beam can run THROUGH the store — each hop's
    adjacency from src/dst zone-map-point-planned group reads, tunnels
    from the persisted long-range table the maintenance wrote
    (src-pruned; both directions stored), candidate embeddings from
    vec_id-point-planned reads of the vectors table — no full-table
    scan per hop (the pre-r10 serve symmetrized the whole adjacency
    AND re-derived nsw_longrange_edges over the whole corpus before
    the first hop).  Like every data-skipping plan, the pruned hops
    carry fixed per-hop planning cost that only pays off when there
    are files to skip, so the path is SIZE-GATED (the broadcast-join
    analogy): below ``_PRUNED_SERVE_MIN_ROWS`` the same persisted
    graph (adjacency ∪ tunnel table — identical edges, identical
    answer, asserted by test_descent_serve_paths_agree) is served as
    one in-memory lazy plan.  The in-gate EXACT side below stays a
    deliberate full-corpus crossJoin: it is the acceptance harness,
    never shipped on the serving path."""
    from .operators.similarity import nsw_beam_search
    from .plans.txlog import TxTable
    from .queries import _ann_recall_gate

    kt, stats_path = _ensure_stream_nsw_descent_mv(spark, sf_dir)
    base = os.path.dirname(kt.root)
    vt = TxTable(os.path.join(base, "vectors"))
    lt = TxTable(os.path.join(base, "lr"))
    rt = TxTable(os.path.join(base, "reps"))
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    # serve-beam depth grows with log |V| (the small-world diameter):
    # a fixed 3-hop/16-wide beam that recalls 0.9 at 500 vectors drops
    # to 0.56 at 2,000 — the beam, not the maintained graph, is the
    # binding constraint (the same graph serves 0.975 at 6/32).  Cost
    # stays O(log |V| · width · degree) per query — the scale story is
    # unchanged.  |V| and the entry node come from commit metadata
    # (count_rows / column_range), zero data files opened.
    n = vt.count_rows(spark)
    hops = max(NSW_H, n.bit_length() - 7)
    width = max(NSW_W, 2 * n.bit_length())
    lo, _hi = vt.column_range("vec_id")
    # per-query semantic entries (round 11) — shared verbatim by both
    # serve plans, so the size gate still cannot change the answer
    entries = _serve_entries(
        spark, vt, q, int(lo), int(_hi) - int(lo) + 1, n, rt=rt
    )
    if n >= _PRUNED_SERVE_MIN_ROWS:
        rows = _pruned_beam_search_local(
            spark, kt, lt, vt, q, entries, hops=hops, width=width
        )
        beam = spark.createDataFrame(
            [(r.query_id, r.node, r.rel) for r in rows],
            "query_id long, node bigint, rel long",
        )
    else:
        edges = _symmetrize(kt.read(spark).select("src", "dst"))
        # a store built by pre-r10 code has no tunnel table; serve
        # adjacency-only instead of crashing (the pruned branch above
        # guards identically)
        if lt.latest_version() >= 0:
            edges = edges.unionByName(lt.read(spark).select("src", "dst"))
        edges = edges.dropDuplicates(["src", "dst"]).localCheckpoint(
            eager=False
        )
        entry = spark.createDataFrame(
            entries, "query_id long, node bigint"
        )
        beam = nsw_beam_search(
            emb, edges, q, entry=entry, hops=hops, width=width
        )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rel"), "node")
    approx = (
        beam.filter(F.col("node") != F.col("query_id"))
        .withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= 10)
        .select("query_id", F.col("node").alias("neighbor_id"))
    )
    exact = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            fp_dot(F.col("qv"), F.col("embedding")).alias("xrel"),
        )
    )
    wx = Window.partitionBy("query_id").orderBy(
        F.desc("xrel"), "neighbor_id"
    )
    exact = (
        exact.withColumn("rn", F.row_number().over(wx))
        .filter(F.col("rn") <= 10)
        .select("query_id", "neighbor_id")
    )
    return _ann_recall_gate(approx, exact, bound=0.7).withColumn(
        "bounded", F.lit(_descent_mv_bounded(stats_path))
    )


# ---------------------------------------------------------------------------
# ann_ivfpq_store_topk — the full vector-database serving composition
# ---------------------------------------------------------------------------

_IVFPQ_LISTS, _IVFPQ_PROBES, _IVFPQ_SUB, _IVFPQ_CODES = 16, 6, 8, 16
# the store gate's serving workload: 4 queries so the UNION of probed
# lists stays strictly below the list count at every SF (the pruned
# boolean is strict physical skipping, no fallback); shortlist 200 for
# the exact re-rank
_IVFPQ_NQ, _IVFPQ_SHORTLIST = 4, 200
# the high-recall setting (documented in SCALE.md's recall curve):
# probe 14/16 lists with a 300-deep exact re-rank — trades pruning for
# recall ≥ 0.9 on the isotropic synthetic corpus
_IVFPQ_HR_PROBES, _IVFPQ_HR_SHORTLIST = 14, 300
_IVFPQ_REFINE_ITERS = 2


def _ensure_ivfpq_store(spark: SparkSession, sf_dir: str):
    """IVF-PQ at store shape — the FAISS IVFPQ layout on the lakehouse:
    every vector is coarse-quantized to its IVF list AND product-
    quantized to 8 codebook indices; the store holds (list_id, vec_id,
    codes) partitioned by list_id (one file group per inverted list,
    min==max zone maps), with the trained codebooks beside it.  The
    corpus' float vectors stay in the embeddings table and are touched
    ONLY by the shortlist re-rank — the store a 100 TB corpus actually
    serves from is n_sub bytes/vector + centroids + codebooks."""
    from .operators import similarity
    from .plans.txlog import TxTable
    from .queries_e2e import _fx

    root = _fx(sf_dir, "txlog_ivfpq_store")
    done = os.path.join(root, "_BUILD_DONE")
    store_root = os.path.join(root, "codes")
    books_path = os.path.join(root, "codebooks.parquet")
    if os.path.exists(done):
        return TxTable(store_root), books_path
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    books = similarity.pq_refine_codebooks(
        emb,
        similarity.pq_codebooks(
            emb, n_sub=_IVFPQ_SUB, n_codes=_IVFPQ_CODES
        ),
        n_sub=_IVFPQ_SUB,
        iterations=_IVFPQ_REFINE_ITERS,
    )
    books.coalesce(1).write.mode("overwrite").parquet(books_path)
    books = spark.read.parquet(books_path)
    cents = similarity.deterministic_centroids(emb, _IVFPQ_LISTS)
    assigned = similarity.ivf_assign(emb, cents).select(
        "vec_id", "list_id"
    )
    codes = similarity.pq_encode(emb, books, n_sub=_IVFPQ_SUB).join(
        assigned, "vec_id"
    )
    t = TxTable(store_root)
    t.commit_append_partitioned(
        codes.select("list_id", "vec_id", "codes"), "list_id"
    )
    _assert_gate_probe_union(spark, root, emb, cents)
    with open(done, "w"):
        pass
    return t, books_path


def _ivfpq_q_probe(
    emb: DataFrame, cents: DataFrame, n_queries: int, probes: int
) -> tuple[DataFrame, DataFrame]:
    """The coarse-probe selection shared by serving and the build-time
    gate-workload check: (query frame, (query_id, list_id) probe
    frame) — each query's ``probes`` nearest inverted lists from the
    broadcast centroid array."""
    from .operators.similarity import centroid_array, cosine

    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    probe_sorted = F.array_sort(
        F.transform(
            F.col("__cents"),
            lambda s: F.struct(
                (-cosine(F.col("query_vec"), s["centroid"])).alias("ns"),
                s["list_id"].alias("lid"),
            ),
        )
    )
    q_probe = q.crossJoin(F.broadcast(centroid_array(cents))).select(
        "query_id",
        F.explode(F.slice(probe_sorted, 1, probes)["lid"]).alias(
            "list_id"
        ),
    )
    return q, q_probe


def _assert_gate_probe_union(
    spark: SparkSession, root: str, emb: DataFrame, cents: DataFrame
) -> None:
    """r9 ADVICE #3: the declared IVF-PQ gates carry a STRICT
    ``pruned`` boolean (0 < picked < total — the full-coverage escape
    was deliberately dropped).  Assert at store BUILD time that the
    4-query/6-probe gate workload's probed-list union stays below the
    list count, so a red gate row can only ever mean a skipping
    failure, never probe-union coverage — and the failure names the
    knob to retune."""
    union = (
        _ivfpq_q_probe(emb, cents, _IVFPQ_NQ, _IVFPQ_PROBES)[1]
        .select("list_id")
        .distinct()
        .count()
    )
    if not 0 < union < _IVFPQ_LISTS:
        shutil.rmtree(root, ignore_errors=True)
        raise RuntimeError(
            f"ivfpq gate workload probes {union}/{_IVFPQ_LISTS} lists — "
            "the strict pruned gate would read red; retune _IVFPQ_PROBES"
            " or _IVFPQ_NQ"
        )


def _serve_ivfpq(
    spark: SparkSession,
    t,
    books_path: str,
    emb: DataFrame,
    cents: DataFrame,
    n_queries: int,
    probes: int,
    shortlist: int,
):
    """The IVF-PQ serving composition — ONE definition shared by the
    batch store, the streamed MV, and the high-recall setting: (1) the
    probe selects its ``probes`` nearest inverted lists from the
    broadcast centroid array; (2) each probed list is a zone-map-PRUNED
    group read of the code store (file skipping, never a corpus scan);
    (3) candidates are scored in COMPRESSED form via the per-query ADC
    lookup table (similarity.pq_lut — n_sub table reads per candidate,
    not dim multiplies); (4) only the ``shortlist``-deep head fetches
    full vectors for the exact cosine re-rank.  Returns (approx top-10
    DataFrame, picked group count, total group count)."""
    from .operators import similarity
    from .operators.similarity import cosine

    q, q_probe = _ivfpq_q_probe(emb, cents, n_queries, probes)
    probed = sorted(
        r.list_id for r in q_probe.select("list_id").distinct().collect()
    )  # planner partition selection, ≤ n_lists rows
    picked, total = t.prune_groups_points("list_id", probed)
    corpus = t.read_groups(spark, picked).filter(
        F.col("list_id").isin(probed)
    )
    lut = similarity.pq_lut(
        q.withColumnRenamed("query_id", "vec_id").withColumnRenamed(
            "query_vec", "embedding"
        ),
        spark.read.parquet(books_path),
        n_sub=_IVFPQ_SUB,
        n_codes=_IVFPQ_CODES,
    )
    scored = (
        corpus.join(F.broadcast(q_probe), "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(lut), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.aggregate(
                F.sequence(F.lit(0), F.lit(_IVFPQ_SUB - 1)),
                F.lit(0.0),
                lambda acc, m: acc
                + F.element_at(
                    F.col("lut"),
                    (
                        m * _IVFPQ_CODES
                        + F.element_at(F.col("codes"), m + 1)
                        + 1
                    ).cast("int"),
                ),
            ).alias("approx_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_score"), F.col("neighbor_id")
    )
    head = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    cv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("corpus_vec"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("neighbor_id")
    )
    approx = (
        head.join(F.broadcast(q), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine("query_vec", "corpus_vec").alias("score"),
        )
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 10)
        .select("query_id", "neighbor_id")
    )
    return approx, picked, total


def q_ann_ivfpq_store_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN served from the IVF-PQ store (_ensure_ivfpq_store) via
    :func:`_serve_ivfpq` — the composition every production vector
    database runs.  Gate: mean recall@10 ≥ 0.4 vs brute force over the
    4-query workload plus a STRICT ``pruned`` boolean — physically
    scanned file groups < total groups, no fallback; the 4-query
    workload at 6/16 probes keeps the probed-list UNION below the list
    count at every SF, so the boolean certifies real file skipping.
    The high-recall probe setting is the separate
    ann_ivfpq_hirecall_topk gate.  No counterpart in the reference;
    completes §2.12's similarity family at its serving composition."""
    from .operators import similarity
    from .queries import _ann_recall_gate

    t, books_path = _ensure_ivfpq_store(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    cents = similarity.deterministic_centroids(emb, _IVFPQ_LISTS)
    approx, picked, total = _serve_ivfpq(
        spark, t, books_path, emb, cents,
        _IVFPQ_NQ, _IVFPQ_PROBES, _IVFPQ_SHORTLIST,
    )
    exact = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < _IVFPQ_NQ), k=10
    ).select("query_id", "neighbor_id")
    return _ann_recall_gate(approx, exact, bound=0.4).withColumn(
        "pruned", F.lit(0 < len(picked) < total)
    )


def q_ann_ivfpq_hirecall_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ store served at its HIGH-RECALL setting: 14/16 probes
    with a 300-deep exact re-rank over the Lloyd-refined codebooks —
    gate mean recall@10 ≥ 0.9 vs brute force (8-query workload).  The
    probe sweep behind the setting is SCALE.md's recall-vs-probes
    curve: on this isotropic synthetic corpus (median pairwise cosine
    ≈ 0 — the adversarial case for IVF) 0.9 recall costs a ~0.9 probe
    fraction; on clustered real corpora the same machinery reaches it
    at far smaller fractions.  Pruning at this setting is the
    documented trade (the strict boolean lives on
    ann_ivfpq_store_topk's workload); recall is the contract here."""
    from .operators import similarity
    from .queries import _ann_recall_gate

    t, books_path = _ensure_ivfpq_store(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    cents = similarity.deterministic_centroids(emb, _IVFPQ_LISTS)
    approx, _picked, _total = _serve_ivfpq(
        spark, t, books_path, emb, cents,
        8, _IVFPQ_HR_PROBES, _IVFPQ_HR_SHORTLIST,
    )
    exact = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=10
    ).select("query_id", "neighbor_id")
    return _ann_recall_gate(approx, exact, bound=0.9)


def _ensure_stream_ivfpq_mv(spark: SparkSession, sf_dir: str):
    """The IVF-PQ code store maintained INCREMENTALLY under streaming
    vector appends — the production vector-ingestion pattern: the
    coarse quantizer (centroids) and PQ codebooks are trained ONCE on
    the bootstrap slice (vec_id %% 4 == 0) and FROZEN; every arriving
    micro-batch then encodes map-only against the frozen quantizers
    and appends its (list_id, vec_id, codes) rows under a per-batch
    txn identity.  Because encoding is a pure per-row function of the
    frozen quantizers, the streamed store equals a one-shot batch
    encode of the full corpus ROW-FOR-ROW — gated by two exceptAll
    passes after the drain; batch 0 is adversarially replayed (must
    version-no-op); any failure rmtrees the fixture.  Returns
    (code TxTable, codebooks path)."""
    from .operators import similarity
    from .plans.txlog import TxTable
    from .queries_e2e import _fx

    root = _fx(sf_dir, "txlog_stream_ivfpq_mv")
    done = os.path.join(root, "_BUILD_DONE")
    store_root = os.path.join(root, "codes")
    books_path = os.path.join(root, "codebooks.parquet")
    if os.path.exists(done):
        return TxTable(store_root), books_path
    shutil.rmtree(root, ignore_errors=True)
    src_dir = os.path.join(root, "src")
    os.makedirs(src_dir, exist_ok=True)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    boot = emb.filter(F.col("vec_id") % _N_SLICES == 0)
    similarity.pq_refine_codebooks(
        boot,
        similarity.pq_codebooks(
            boot, n_sub=_IVFPQ_SUB, n_codes=_IVFPQ_CODES
        ),
        n_sub=_IVFPQ_SUB,
        iterations=_IVFPQ_REFINE_ITERS,
    ).coalesce(1).write.mode("overwrite").parquet(books_path)
    books = spark.read.parquet(books_path)
    cents = similarity.deterministic_centroids(boot, _IVFPQ_LISTS)
    cents_path = os.path.join(root, "centroids.parquet")
    cents.coalesce(1).write.mode("overwrite").parquet(cents_path)
    for i in range(_N_SLICES):
        tmp = os.path.join(root, f"_tmp{i}")
        emb.filter(F.col("vec_id") % _N_SLICES == i).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.rename(part, os.path.join(src_dir, f"slice_{i}.parquet"))
        shutil.rmtree(tmp)

    def encode(b: DataFrame) -> DataFrame:
        sp = b.sparkSession
        bks = sp.read.parquet(books_path)
        cts = sp.read.parquet(cents_path)
        assigned = similarity.ivf_assign(b, cts).select(
            "vec_id", "list_id"
        )
        return (
            similarity.pq_encode(b, bks, n_sub=_IVFPQ_SUB)
            .join(assigned, "vec_id")
            .select("list_id", "vec_id", "codes")
        )

    def refresh(bdf: DataFrame, batch_id: int) -> None:
        # partitioned append: each batch's rows land one file group PER
        # INVERTED LIST (min==max zone maps), so the streamed store
        # keeps the batch store's file-skipping property — a probe
        # plans ~n_probe/n_lists of the groups at ANY batch count
        TxTable(store_root).commit_append_partitioned(
            encode(bdf.select("vec_id", "embedding")),
            "list_id",
            txn=("ivfpq_mv", batch_id),
        )

    schema = emb.schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(refresh)
        .option("checkpointLocation", os.path.join(root, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    if q.isActive:
        q.stop()
        raise RuntimeError("ivfpq mv stream drain did not finish")
    t = TxTable(store_root)
    before = t.latest_version()
    refresh(emb.filter(F.col("vec_id") % _N_SLICES == 0), 0)
    if t.latest_version() != before:
        shutil.rmtree(root, ignore_errors=True)
        raise RuntimeError(
            "replayed batch 0 must no-op the code store (txn dedup broke)"
        )
    stored = t.read(spark).select("list_id", "vec_id", "codes")
    batch = encode(emb)
    extra = stored.exceptAll(batch).count()
    missing = batch.exceptAll(stored).count()
    if extra or missing:
        shutil.rmtree(root, ignore_errors=True)
        raise RuntimeError(
            f"streamed code store != batch encode: +{extra} -{missing}"
        )
    _assert_gate_probe_union(spark, root, emb, cents)
    with open(done, "w"):
        pass
    return t, books_path


def q_stream_ivfpq_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN served from the STREAM-maintained IVF-PQ code store
    (_ensure_stream_ivfpq_mv): the frozen bootstrap quantizers make the
    streamed store provably equal to a batch encode, and this query
    serves the ann_ivfpq_store_topk plan through it — zone-map list
    pruning, compressed ADC scoring, exact shortlist re-rank — under
    the same recall contract.  A dropped, doubled, or replay-leaked
    batch removes or duplicates candidate rows and moves the recall
    boolean or the exact-side counts.  Same strict pruned boolean and
    4-query workload as ann_ivfpq_store_topk — here the streamed store
    has one file group per (batch, list), so the probe's zone-map skip
    covers ~_N_SLICES groups per unprobed list."""
    from .operators import similarity
    from .queries import _ann_recall_gate

    t, books_path = _ensure_stream_ivfpq_mv(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    boot = emb.filter(F.col("vec_id") % _N_SLICES == 0)
    cents = similarity.deterministic_centroids(boot, _IVFPQ_LISTS)
    approx, picked, total = _serve_ivfpq(
        spark, t, books_path, emb, cents,
        _IVFPQ_NQ, _IVFPQ_PROBES, _IVFPQ_SHORTLIST,
    )
    exact = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < _IVFPQ_NQ), k=10
    ).select("query_id", "neighbor_id")
    return _ann_recall_gate(approx, exact, bound=0.4).withColumn(
        "pruned", F.lit(0 < len(picked) < total)
    )


def register(queries: dict, oracles: dict) -> None:
    from .queries import _ORACLE_ANN_EXACT_HEAD
    from .queries_round4 import ORACLE_NSW

    pruned_head = _ORACLE_ANN_EXACT_HEAD.replace(
        "TRUE AS recall_ok", "TRUE AS recall_ok,\n       TRUE AS pruned"
    )
    # the store gate runs the 4-query workload (strict pruned union)
    pruned_head_q4 = pruned_head.replace("vec_id < 8", "vec_id < 4")
    queries["ann_nsw_store_topk"] = q_ann_nsw_store_topk
    oracles["ann_nsw_store_topk"] = pruned_head
    queries["stream_nsw_mv"] = q_stream_nsw_mv
    oracles["stream_nsw_mv"] = ORACLE_NSW
    queries["ann_ivfpq_store_topk"] = q_ann_ivfpq_store_topk
    oracles["ann_ivfpq_store_topk"] = pruned_head_q4
    queries["stream_ivfpq_mv"] = q_stream_ivfpq_mv
    oracles["stream_ivfpq_mv"] = pruned_head_q4
    queries["ann_ivfpq_hirecall_topk"] = q_ann_ivfpq_hirecall_topk
    oracles["ann_ivfpq_hirecall_topk"] = _ORACLE_ANN_EXACT_HEAD
    queries["stream_nsw_descent_mv"] = q_stream_nsw_descent_mv
    oracles["stream_nsw_descent_mv"] = _ORACLE_ANN_EXACT_HEAD.replace(
        "TRUE AS recall_ok", "TRUE AS recall_ok,\n       TRUE AS bounded"
    )
