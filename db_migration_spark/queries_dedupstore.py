"""Persisted LSH band index — incremental near-dup dedup at serving shape.

The production form of MinHash near-dup dedup at 100 TB is NOT the
self-join the batch query runs (queries.py dedup_minhash): the corpus'
band rows are materialized ONCE into a bucket-clustered store, and each
arriving batch (a crawl snapshot, a day of documents) probes the store
with its own band rows — an equi-join whose cost is the batch x matched
buckets, never corpus x corpus — then appends its rows so the next
batch sees them.  This module declares that shape over the ``documents``
table with the even/odd doc split standing in for store/batch:

* ``dedup_lsh_store_probe`` — batch-vs-store near-dup probe served from
  the persisted band index (txlog table, bucket-clustered + bloom
  sidecars), gated by the same acceptance contract as dedup_minhash:
  every cross-split pair with exact word-3-gram Jaccard >= 0.8 must be
  recalled through the STORE path, and the signature estimate must sit
  within 0.15 of exact on the found pairs.
* ``stream_dedup_lsh_mv`` — the band store maintained INCREMENTALLY by
  a stream (foreachBatch append with per-batch txn identity, so a
  replayed micro-batch is a no-op), proved equal to a full-rescan band
  build row-for-row.

Store and probe both derive bucketing from operators/dedup.band_rows —
one definition, so a store written yesterday and a probe computed today
cannot disagree.

No counterpart in the reference (azanium's dedup is Datomic's unique-
identity upsert during import, pseudoace.py:1-40); this extends the
SURVEY §2.12 dedup family to its incremental/serving tier, the same
move search_bm25_indexed makes for retrieval.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .operators import dedup
from .plans.txlog import TxTable
from .queries_e2e import _build_once, _check_replay, _drain, _fx
from .queries_shared import _SHINGLE_JACCARD_CTES

NUM_HASHES = 32
BANDS = 8
THRESHOLD = 0.4  # est-Jaccard verify floor, same as dedup_minhash


def _docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents fixture."""
    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def build_lsh_store(docs: DataFrame, root: str, num_hashes: int, bands: int):
    """The persisted band index over ``docs`` at ``root`` — one build
    behind the declared fixture and ``lsh-store build``: the docs'
    MinHash signatures in a ``sigs/`` txlog table (the verify side needs
    them — signatures are num_hashes longs/doc, the text itself never
    re-moves; a TxTable so an incremental ``--append`` commits them
    under a txn identity), their (doc_id, band, bucket) rows in
    ``bands/``, OPTIMIZE-clustered on ``bucket`` (each file group owns a
    bucket range, so zone maps skip groups whose range a probe's
    buckets miss) with bloom sidecars on ``bucket`` for selective point
    probes, and the banding parameters in ``_lsh_meta.json``.  Returns
    (band TxTable, signature TxTable)."""
    spark = docs.sparkSession
    os.makedirs(root, exist_ok=True)
    ts = TxTable(os.path.join(root, "sigs"))
    ts.commit_append(dedup.minhash_signatures(docs, num_hashes=num_hashes))
    t = TxTable(os.path.join(root, "bands"))
    t.commit_append(dedup.band_rows(ts.read(spark), "doc_id", bands))
    t.optimize(spark, sort_key=["bucket"], target_groups=8)
    t.add_bloom_index(spark, "bucket")
    with open(os.path.join(root, "_lsh_meta.json"), "w") as fh:
        json.dump({"num_hashes": num_hashes, "bands": bands}, fh)
    return t, ts


def _ensure_lsh_store(spark: SparkSession, sf_dir: str):
    """:func:`build_lsh_store` over the STORE half (even doc_ids) of
    the documents table, built once.  Returns (band TxTable, signature
    TxTable)."""
    root = _fx(sf_dir, "lsh_band_store")

    def build() -> None:
        docs = load_table(spark, sf_dir, "documents")
        build_lsh_store(
            docs.filter(F.col("doc_id") % 2 == 0), root, NUM_HASHES, BANDS
        )

    _build_once(root, build)
    return (
        TxTable(os.path.join(root, "bands")),
        TxTable(os.path.join(root, "sigs")),
    )


def probe_pairs(
    store_bands: DataFrame,
    store_sigs: DataFrame,
    batch_sigs: DataFrame,
    bands: int = BANDS,
    threshold: float = THRESHOLD,
) -> DataFrame:
    """Batch-vs-store candidate generation + verification, shared by the
    declared probe query and the lsh-store CLI: the batch's band rows
    equi-join the store's on (band, bucket), then pairs verify by
    signature agreement >= threshold.  Returns (store_id, probe_id,
    est_jaccard)."""
    cand = (
        dedup.band_rows(batch_sigs, "doc_id", bands)
        .withColumnRenamed("doc_id", "probe_id")
        .join(
            store_bands.withColumnRenamed("doc_id", "store_id"),
            ["band", "bucket"],
        )
        .select("store_id", "probe_id")
        .distinct()
    )
    return (
        cand.join(
            store_sigs.select(
                F.col("doc_id").alias("store_id"),
                F.col("signature").alias("sig_a"),
            ),
            "store_id",
        )
        .join(
            batch_sigs.select(
                F.col("doc_id").alias("probe_id"),
                F.col("signature").alias("sig_b"),
            ),
            "probe_id",
        )
        .select(
            "store_id",
            "probe_id",
            dedup.sig_agreement().alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def point_matches(
    spark: SparkSession,
    t,
    ts,
    probe_sig: DataFrame,
    bands: int,
    threshold: float,
):
    """Single-document lookup through the band store ``t`` (signatures
    ``ts``), shared by the declared point probe and ``lsh-store
    point``: plan each of the probe's band buckets ONCE through the
    bloom sidecars + zone maps (``prune_groups_point``), scan the
    PLANNED UNION in one job (``read_groups``), keep rows matching a
    probe (band, bucket), then verify each candidate by signature
    agreement >= ``threshold``.  Returns ((store_id, est_jaccard), the
    planned group set).  The probe's band rows are driver-side by
    design — they ARE the query, bounded by ``bands``."""
    prows = dedup.band_rows(probe_sig, "doc_id", bands).select(
        "band", "bucket"
    )
    scanned: set[str] = set()
    for r in prows.collect():
        picked, _total = t.prune_groups_point(spark, "bucket", r.bucket)
        scanned.update(picked)
    matches = (
        t.read_groups(spark, sorted(scanned))
        .join(F.broadcast(prows), ["band", "bucket"])
        .select(F.col("doc_id").alias("store_id"))
        .distinct()
        .join(
            ts.read(spark).select(
                F.col("doc_id").alias("store_id"),
                F.col("signature").alias("sig_a"),
            ),
            "store_id",
        )
        .crossJoin(
            F.broadcast(probe_sig.select(F.col("signature").alias("sig_b")))
        )
        .select("store_id", dedup.sig_agreement().alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )
    return matches, scanned


def q_dedup_lsh_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-store near-dup probe through the persisted band index,
    emitted as the deterministic acceptance row (same contract and
    thresholds as dedup_minhash, restated over the cross-split pair
    space): candidates = probe band rows equi-joined to the STORE's
    band rows on (band, bucket) — at scale the probe side is a day's
    batch and the join touches only the matched buckets' groups — then
    verified by signature-agreement est >= THRESHOLD.  recall_ok gates
    that every exact >= 0.8 cross-split pair surfaced through the
    store; est_err_ok bounds |est - exact| on the found pairs."""
    t, ts = _ensure_lsh_store(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    probe_docs = docs.filter(F.col("doc_id") % 2 == 1)
    # persisted (and left so, same as minhash_near_dups): the probe
    # signatures feed both the banding arm and the verify arm, and the
    # returned plan executes AFTER this function returns — an early
    # unpersist would silently void the cache
    psigs = dedup.minhash_signatures(
        probe_docs, num_hashes=NUM_HASHES
    ).persist()
    found = probe_pairs(t.read(spark), ts.read(spark), psigs).select(
        # normalize to the (id_a < id_b) orientation the exact-pair
        # frame uses; store ids are even, probe ids odd, so least/
        # greatest is the orientation-free form
        F.least("store_id", "probe_id").alias("id_a"),
        F.greatest("store_id", "probe_id").alias("id_b"),
        "est_jaccard",
    )
    return _store_acceptance(docs, found)


def _store_acceptance(docs: DataFrame, found: DataFrame) -> DataFrame:
    """The cross-split acceptance gate, factored out (same reason as
    queries._minhash_acceptance) so the adversarial tests can drive it
    with a crippled store and prove it goes RED — a silently empty or
    stale band index must not pass vacuously."""
    exact_hi = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.8).filter(
        (F.col("id_a") % 2) != (F.col("id_b") % 2)
    )
    joined = exact_hi.join(found, ["id_a", "id_b"], "left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_exact_hi"),
        F.coalesce(
            F.try_divide(F.count("est_jaccard"), F.count(F.lit(1))) >= 0.9,
            F.lit(True),
        ).alias("recall_ok"),
        F.coalesce(
            F.max(F.abs(F.col("est_jaccard") - F.col("jaccard"))) <= 0.15,
            F.lit(True),
        ).alias("est_err_ok"),
    )


def q_dedup_lsh_point_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-document dedup lookup — the ONLINE serving path ("is this
    incoming doc a near-dup of anything in the corpus?"): the probe's
    BANDS band buckets are computed driver-side (they ARE the query,
    like a search engine's term list), each consults the store's bloom
    sidecars + zone maps (``prune_groups_point``) and reads only the
    groups that may hold its bucket (``read_point``).  Planning cost is
    therefore <= BANDS groups AT ANY STORE SIZE — the needle-in-haystack
    property, emitted as ``probe_cost_bounded``.  The probe document is
    a re-arrival of the lowest even (store-side) doc's text, so its
    signature is identical to the stored copy and the self-match MUST
    surface with agreement 1.0 (``self_found`` — collision certain, no
    probabilistic slack)."""
    t, ts = _ensure_lsh_store(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    probe_id = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .agg(F.min("doc_id").alias("k"))
        .collect()[0]["k"]
    )
    probe = docs.filter(F.col("doc_id") == probe_id).select(
        F.lit(-1).cast("long").alias("doc_id"), "text"
    )
    psig = dedup.minhash_signatures(probe, num_hashes=NUM_HASHES)
    verified, scanned = point_matches(spark, t, ts, psig, BANDS, THRESHOLD)
    return verified.agg(
        F.lit(probe_id).cast("long").alias("probe_id"),
        F.coalesce(
            F.max(
                (F.col("store_id") == probe_id)
                & (F.col("est_jaccard") >= 1.0 - 1e-9)
            ),
            F.lit(False),
        ).alias("self_found"),
        F.lit(len(scanned) <= BANDS).alias("probe_cost_bounded"),
    )


def q_stream_dedup_lsh_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The band index maintained INCREMENTALLY: a documents stream
    appends each micro-batch's band rows to the txlog store under a
    per-batch txn identity (replay = no-op, proved by an adversarial
    batch-0 re-commit after the drain), then the declared row proves
    the streamed store equals a full-rescan band build ROW-FOR-ROW
    (two anti-joins, both empty) — the dedup counterpart of the
    hll/theta/quantile streaming MVs.  n_band_rows is exactly
    n_docs x BANDS (each doc emits one row per band), which is what
    the oracle pins."""
    root = _fx(sf_dir, "stream_lsh_mv")

    def build() -> None:
        t = TxTable(root)

        def refresh(bdf: DataFrame, batch_id: int) -> None:
            rows = dedup.band_rows(
                dedup.minhash_signatures(bdf, num_hashes=NUM_HASHES),
                "doc_id",
                BANDS,
            )
            TxTable(root).commit_append(rows, txn=("lsh_mv", batch_id))

        _drain(
            _docs_stream(spark, sf_dir)
            .select("doc_id", "text")
            .writeStream.foreachBatch(refresh)
            .option("checkpointLocation", os.path.join(root, "_chk"))
        )
        # adversarial replay: batch 0's identity is already in the log —
        # the commit must be a version no-op, or exactly-once is broken
        # (deterministic slice, so a dedup regression fails reproducibly)
        replay = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 50)
            .select("doc_id", "text")
        )
        _check_replay(root, t.latest_version, lambda: refresh(replay, 0))

    _build_once(root, build)
    t = TxTable(root)
    docs = load_table(spark, sf_dir, "documents")
    batch_rows = dedup.band_rows(
        dedup.minhash_signatures(docs, num_hashes=NUM_HASHES),
        "doc_id",
        BANDS,
    )
    streamed = t.read(spark)
    missing = batch_rows.join(
        streamed, ["doc_id", "band", "bucket"], "left_anti"
    )
    extra = streamed.join(
        batch_rows, ["doc_id", "band", "bucket"], "left_anti"
    )
    return (
        streamed.agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_band_rows"),
        )
        .crossJoin(
            F.broadcast(
                missing.agg(F.count(F.lit(1)).alias("__m")).crossJoin(
                    F.broadcast(extra.agg(F.count(F.lit(1)).alias("__e")))
                )
            )
        )
        .select(
            "n_docs",
            "n_band_rows",
            ((F.col("__m") == 0) & (F.col("__e") == 0)).alias(
                "store_equals_batch"
            ),
        )
    )


# the exact-pair CTEs are the shared shingle block every dedup oracle
# extends (queries_shared)
ORACLE_LSH_STORE_PROBE = (
    _SHINGLE_JACCARD_CTES.format(
        extra_ctes=r""", hi AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.8
    AND (id_a % 2) <> (id_b % 2)
)"""
    )
    + """
SELECT CAST(count(*) AS BIGINT) AS n_exact_hi,
       TRUE AS recall_ok, TRUE AS est_err_ok
FROM hi
"""
)
ORACLE_STREAM_LSH_MV = f"""
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) * {BANDS} AS BIGINT) AS n_band_rows,
       TRUE AS store_equals_batch
FROM documents
"""
ORACLE_LSH_POINT_PROBE = """
SELECT CAST((SELECT min(doc_id) FROM documents WHERE doc_id % 2 = 0)
            AS BIGINT) AS probe_id,
       TRUE AS self_found,
       TRUE AS probe_cost_bounded
"""


REGISTRY = (
    (q_dedup_lsh_store_probe, ORACLE_LSH_STORE_PROBE),
    (q_dedup_lsh_point_probe, ORACLE_LSH_POINT_PROBE),
    (q_stream_dedup_lsh_mv, ORACLE_STREAM_LSH_MV),
)
