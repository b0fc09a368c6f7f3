"""Similarity search over embedding columns (SURVEY §2.12).

Two tiers:

* brute-force cosine top-k — the exact baseline.  Queries are broadcast
  (the query set is small by definition); the corpus side is a pure map
  stage + per-query top-k, so the only shuffle carries (query_id, k) rows.
* LSH-bucketed ANN — random-hyperplane signs bucket the corpus; a query
  only scans its bucket (and optionally neighboring probes).  The
  hyperplanes are derived deterministically from seeded xxhash64 so results
  are reproducible without storing a model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine


def rank_topk(scored: DataFrame, score_col: str, k: int) -> DataFrame:
    """Each query's ``k`` best rows of ``scored`` (query_id,
    neighbor_id, ...) by ``score_col`` descending, ties to the lower
    neighbor id, numbered in a ``rank`` column — the per-query top-k
    cut every similarity kernel ends with."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score_col), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for each query vector.

    ``queries`` (query_id, query_vec) is broadcast; the cross join is a map
    stage over the corpus (|corpus| × |queries| similarity evaluations, all
    inside codegen); the window keeps k rows per query before anything
    shuffles beyond (query_id, score) pairs.

    Self-matches (same id) are excluded.  Ties broken by neighbor id for
    determinism.  Returns (query_id, neighbor_id, score, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("corpus_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine("query_vec", "corpus_vec").alias("score"),
        )
    )
    return rank_topk(scored, "score", k)


def _hyperplane(dim: int, plane_idx: int, table_idx: int = 0) -> "F.Column":
    """Deterministic pseudo-random hyperplane: component j of plane i in
    table t is a sign derived from a keyed blake2b of (t, i, j).  No RNG
    state, reproducible anywhere.

    The signs are computed DRIVER-side and emitted as a literal array:
    they are data-independent constants, and deriving them with per-row
    hash expressions (the first implementation) made Catalyst evaluate a
    ~dim·planes·tables-node expression tree per input row — measured 45 s
    just to bucket 2 000 vectors at (P=2, L=23).  As literals the array
    constant-folds once and the per-row work is only the sign-dot."""
    import hashlib

    signs = []
    for j in range(dim):
        digest = hashlib.blake2b(
            f"{table_idx}:{plane_idx}:{j}".encode(), digest_size=1
        ).digest()
        signs.append(1.0 if digest[0] & 1 else -1.0)
    return F.array(*[F.lit(s) for s in signs])


def lsh_bucket(vec_col, dim: int, num_planes: int = 8, table_idx: int = 0):
    """Random-hyperplane LSH bucket id (0 .. 2^num_planes-1) as a Column.
    Sign of <v, h_i> contributes bit i."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bits = []
    for i in range(num_planes):
        plane = _hyperplane(dim, i, table_idx)
        d = F.aggregate(
            F.zip_with(c, plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(
            F.when(d >= 0, F.shiftleft(F.lit(1), i)).otherwise(F.lit(0))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def _bucketed(df: DataFrame, id_alias: str, vec_alias: str,
              id_col: str, vec_col: str, dim: int,
              num_planes: int, num_tables: int) -> DataFrame:
    """(id, vec) × table → (id, vec, table, bucket).  OR-construction:
    L independent hash tables; a pair is a candidate if it collides in ANY
    table — the standard recall amplifier for sign-random-projection LSH."""
    buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("table"),
                lsh_bucket(vec_col, dim, num_planes, t).alias("bucket"),
            )
            for t in range(num_tables)
        ]
    )
    return df.select(
        F.col(id_col).alias(id_alias),
        F.col(vec_col).alias(vec_alias),
        F.explode(buckets).alias("tb"),
    ).select(id_alias, vec_alias, "tb.table", "tb.bucket")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 6,
    num_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: only corpus vectors sharing an LSH bucket with the
    query (in any of ``num_tables`` tables) are scored.

    Default (P=6, L=8) is tuned on the planted-Gaussian-cluster fixture
    (tools/recall_report.py --clustered — within-cluster cosine ≈ 0.9,
    the geometry of a real embedding corpus): recall@10 = 0.994, matching
    the collision model (p = 1−arccos(0.92)/π ≈ 0.87, miss =
    (1−p⁶)⁸ ≈ 0.006).  Smaller P raises recall on paper but fattens every
    bucket 2^(6−P)×, which is the wrong trade once the corpus is large —
    keep buckets selective and amplify recall with tables.

    Scale shape: at 100 TB the (table, bucket) pair is the corpus partition
    key, so a query touches ``num_tables / 2^num_planes`` of the data
    (partition pruning); recall ↑ with more tables, compute ↓ with more
    planes.  Candidates are deduped across tables before scoring so each
    (query, neighbor) pair's dot product is computed once."""
    cb = _bucketed(corpus, "neighbor_id", "corpus_vec",
                   id_col, vec_col, dim, num_planes, num_tables)
    qb = _bucketed(queries, "query_id", "query_vec",
                   id_col, vec_col, dim, num_planes, num_tables)
    cand = (
        cb.join(F.broadcast(qb), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "query_vec", "neighbor_id", "corpus_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine("query_vec", "corpus_vec").alias("score"),
    )
    return rank_topk(scored, "score", k)


# --- IVF (inverted-file) ANN -------------------------------------------------

def centroid_array(centroids: DataFrame) -> DataFrame:
    """Fold the (list_id, centroid) table into ONE row holding an
    array<struct<list_id, centroid>> sorted by list_id — the shape both
    IVF argmaxes consume via a 1-row broadcast cross join.  Lazy and
    JVM-side: no driver collect, no giant literal tree (an
    n_lists×dim per-element literal costs a quadratic analysis pass —
    measured ~1s per query at 16×64)."""
    return centroids.agg(
        F.array_sort(
            F.collect_list(F.struct("list_id", "centroid"))
        ).alias("__cents")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (the IVF coarse
    quantizer) as a map stage — ZERO exchange of the corpus.

    The n_lists centroids fold into a single-row array-of-structs
    (:func:`centroid_array`) that joins in as a 1-row broadcast nested
    loop (each corpus partition receives the ~KB centroid row in place;
    the corpus itself never moves), and the nearest list is an
    ``array_max`` over a ``transform``: struct ordering compares
    similarity first, then the negated list id, so ties resolve to the
    LOWEST list_id — identical semantics to the previous ``crossJoin +
    row_number`` shape, which shuffled n_lists× the corpus (vectors
    included) through an exchange + sort just to pick a per-row
    maximum.  At 100 TB assignment is embarrassingly parallel and the
    resulting ``list_id`` becomes the corpus partition key."""
    best = F.array_max(
        F.transform(
            F.col("__cents"),
            lambda s: F.struct(
                cosine(F.col(vec_col), s["centroid"]).alias("s"),
                (-s["list_id"]).alias("nid"),
            ),
        )
    )
    return (
        corpus.crossJoin(F.broadcast(centroid_array(centroids)))
        .select(
            F.col(id_col),
            F.col(vec_col),
            (-best["nid"]).alias("list_id"),
        )
    )


def deterministic_centroids(
    corpus: DataFrame,
    n_lists: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pick n_lists seed centroids deterministically: the vectors whose
    xxhash64(id) ranks lowest — a reproducible 'random' sample with no RNG
    state (a k-means refinement would iterate from exactly these seeds).

    Plan shape: ``orderBy(hash).limit(n_lists)`` compiles to
    TakeOrderedAndProject — per-partition top-n_lists then a driver-side
    merge of n_lists×partitions candidates.  (A global ``Window.orderBy``
    here would funnel the entire corpus through one task; the only
    single-partition stage left is the row_number over the n_lists
    already-selected seeds.)"""
    seeds = (
        corpus.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("centroid"),
            F.xxhash64(F.col(id_col).cast("string")).alias("__h"),
        )
        .orderBy("__h", "__id")
        .limit(n_lists)
    )
    w = Window.orderBy("__h", "__id")  # over n_lists rows only
    return seeds.withColumn("__rk", F.row_number().over(w)).select(
        (F.col("__rk") - 1).alias("list_id"), "centroid"
    )


def ivf_probe(queries: DataFrame, centroids: DataFrame, n_probe: int):
    """Each query's ``n_probe`` nearest inverted lists — the IVF probe
    selection every IVF serving path shares.  ``queries`` is
    (query_id, query_vec); returns (query_id, query_vec, list_id), one
    row per probed list.

    A pure map over the 1-row broadcast centroid array: an ascending
    struct sort on (-sim, list_id) == (desc sim, asc list_id), the
    crossJoin + row_number tie-break without the exchange."""
    probe_sorted = F.array_sort(
        F.transform(
            F.col("__cents"),
            lambda s: F.struct(
                (-cosine(F.col("query_vec"), s["centroid"])).alias("ns"),
                s["list_id"].alias("lid"),
            ),
        )
    )
    return queries.crossJoin(F.broadcast(centroid_array(centroids))).select(
        "query_id",
        "query_vec",
        F.explode(F.slice(probe_sorted, 1, n_probe)["lid"]).alias("list_id"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: score only corpus vectors whose inverted list
    is among the query's n_probe closest centroids.

    Cost model vs LSH: IVF lists adapt to the data distribution (clustered
    embeddings → tight lists → high recall at low probe count), while LSH
    is data-independent.  Scan fraction ≈ n_probe/n_lists of the corpus,
    via partition pruning when the store is partitioned by list_id.

    Note: the seeding window ranks a deterministic hash order — an O(n log n)
    sort of ids only (not vectors); production deployments precompute
    centroids offline and pass them in.

    Plan shape (round 6): both centroid argmaxes are map stages over a
    1-row broadcast centroid array — corpus assignment via
    :func:`ivf_assign`, and probe selection via an
    ``array_sort``+``slice`` over the same folded array — so the only
    exchanges left are the probe broadcast and the final per-query
    top-k.
    """
    cents = deterministic_centroids(corpus, n_lists, id_col, vec_col)
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    q_probe = ivf_probe(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
        ),
        cents,
        n_probe,
    )
    scored = (
        assigned.join(F.broadcast(q_probe), "list_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine("query_vec", vec_col).alias("score"),
        )
    )
    return rank_topk(scored, "score", k)


def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd refinement of IVF centroids.

    Each round: broadcast-assign every vector to its nearest centroid
    (ivf_assign) then recompute centroids as the per-list elementwise mean.
    Means accumulate through DECIMAL so the result is bit-identical across
    partitionings and cluster layouts — an iterative algorithm whose output
    does not depend on execution order, which matters for reproducible ANN
    indexes.  Empty lists keep their previous centroid.

    Plan per round: one broadcast map stage + one (list_id, dim) hash
    aggregate; the centroid table stays O(n_lists × dim) on the driver side
    of the loop.  At 100 TB: sample the corpus for refinement (the standard
    IVF train/add split), then ivf_assign the full corpus once.
    """
    for _ in range(iterations):
        assigned = ivf_assign(corpus, centroids, id_col, vec_col)
        dims = assigned.select(
            "list_id", F.posexplode(F.col(vec_col)).alias("pos", "x")
        )
        means = (
            dims.groupBy("list_id", "pos")
            .agg(
                (
                    F.sum(F.col("x").cast("decimal(28,12)"))
                    / F.count(F.lit(1))
                )
                .cast("double")
                .alias("m")
            )
            .groupBy("list_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "list_id",
                F.transform(F.col("pm"), lambda s: s["m"].cast("float")).alias(
                    "centroid"
                ),
            )
        )
        # carry forward centroids whose list lost all members
        centroids = (
            centroids.select("list_id", F.col("centroid").alias("old"))
            .join(means, "list_id", "left_outer")
            .select(
                "list_id", F.coalesce("centroid", "old").alias("centroid")
            )
        )
    return centroids


def projection_matrix(seed: str, dim: int, k: int) -> list[list[float]]:
    """Deterministic seeded K×D random-projection matrix with entries
    uniform in [-1, 1): entry (r, j) = md5("{seed}:{r}:{j}") first 8 hex
    digits / 2^31 - 1.  Every term is exact in an IEEE double (the
    numerator is an integer < 2^32, the divisor a power of two), so any
    engine evaluating the same formula produces bit-identical weights —
    the declared query's DuckDB oracle recomputes the matrix in SQL.

    Driver-computed and embedded as literals: Catalyst constant-folds the
    weights into the projection expressions, so executors never hash."""
    import hashlib

    return [
        [
            int(
                hashlib.md5(f"{seed}:{r}:{j}".encode()).hexdigest()[:8], 16
            )
            / 2147483648.0
            - 1.0
            for j in range(1, dim + 1)
        ]
        for r in range(k)
    ]


def random_projection(
    emb: DataFrame,
    vec_col: str = "embedding",
    seed: str = "jl",
    dim: int = 64,
    k: int = 8,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection D→K over an embedding
    column: proj[r] = Σ_j v[j] · W[r][j], accumulated in index order (a
    left fold, same IEEE op sequence as the oracle's ``list_sum``).

    Pure map stage — no shuffle, no UDF; the K folds share the one row
    scan and whole-stage codegen.  The standard cheap pre-step before
    clustering/ANN when the full dimensionality is wasted on the task
    (distance distortion bounded by the JL lemma)."""
    W = projection_matrix(seed, dim, k)
    v = F.col(vec_col)

    def _fold(row: list[float]):
        # closure factory, NOT a defaulted lambda param: pyspark binds any
        # extra (even defaulted) HOF-lambda parameter to the element index
        arr = F.array(*[F.lit(w) for w in row])
        return lambda acc, j: acc + F.element_at(v, j).cast(
            "double"
        ) * F.element_at(arr, j)

    proj = F.array(
        *[
            F.aggregate(F.sequence(F.lit(1), F.lit(dim)), F.lit(0.0), _fold(W[r]))
            for r in range(k)
        ]
    )
    return emb.withColumn("proj", proj)


# --- product quantization (PQ) ANN ------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    n_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic PQ codebooks: for each of ``n_sub`` subspaces, the
    ``n_codes`` subvectors whose xxhash64(id:m) ranks lowest become the
    codewords — the same reproducible no-RNG seeding as
    :func:`deterministic_centroids`, applied per subspace (a Lloyd
    refinement via :func:`kmeans_refine` slots in unchanged on top).

    Returns (m, code, codeword).  Shape note: the exploded (id, m)
    ranking shuffles n·n_sub *subvector* rows once; the codebook itself
    is O(n_sub × n_codes × dim/n_sub) = one broadcast payload.
    """
    dim_over_m = F.size(F.col("__v")) / n_sub
    sub = corpus.select(
        F.col(id_col).alias("__id"),
        F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("m"),
        F.col(vec_col).alias("__v"),
    ).select(
        "__id",
        "m",
        F.slice(
            "__v",
            (F.col("m") * dim_over_m + 1).cast("int"),
            dim_over_m.cast("int"),
        ).alias("sub"),
        F.xxhash64(
            F.concat_ws(":", F.col("__id").cast("string"), F.col("m"))
        ).alias("__h"),
    )
    w = Window.partitionBy("m").orderBy("__h", "__id")
    seeds = sub.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") <= n_codes
    )
    return seeds.select(
        "m", (F.col("__rk") - 1).alias("code"), F.col("sub").alias("codeword")
    )


def _l2sq(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_refine_codebooks(
    corpus: DataFrame,
    codebooks: DataFrame,
    n_sub: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd refinement of PQ codebooks — the per-subspace
    twin of :func:`kmeans_refine`.  Each round: broadcast-assign every
    (vector, subspace) subvector to its nearest codeword (L2, ties to
    the lower code), then recompute each (m, code) codeword as the
    elementwise mean of its assigned subvectors, accumulated through
    DECIMAL so the result is bit-identical across partitionings.  A
    codeword that attracts no subvectors keeps its previous value.

    Two iterations on the hash-seeded books cut ADC distortion enough
    to move shortlist recall@10 from ~0.54 to ~0.90 on the isotropic
    synthetic corpus (see SCALE.md's recall curve).  Plan per round:
    one broadcast map stage + one (m, code, pos) hash aggregate — the
    codebook stays O(n_sub × n_codes × dim/n_sub), a broadcast payload.
    At 100 TB: refine on a sample (the standard PQ train/add split),
    then pq_encode the full corpus once against the frozen books."""
    dim_over_m = F.size(F.col("__v")) / n_sub
    sub = corpus.select(
        F.col(id_col).alias("__id"),
        F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("m"),
        F.col(vec_col).alias("__v"),
    ).select(
        "__id",
        "m",
        F.slice(
            "__v",
            (F.col("m") * dim_over_m + 1).cast("int"),
            dim_over_m.cast("int"),
        ).alias("sub"),
    )
    for _ in range(iterations):
        best = (
            sub.join(F.broadcast(codebooks), "m")
            .select(
                "__id",
                "m",
                "code",
                "sub",
                _l2sq(F.col("sub"), F.col("codeword")).alias("__d"),
            )
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("__id", "m").orderBy("__d", "code")
                ),
            )
            .filter(F.col("__rn") == 1)
        )
        means = (
            best.select("m", "code", F.posexplode("sub").alias("pos", "x"))
            .groupBy("m", "code", "pos")
            .agg(
                (
                    F.sum(F.col("x").cast("decimal(28,12)"))
                    / F.count(F.lit(1))
                )
                .cast("double")
                .alias("mu")
            )
            .groupBy("m", "code")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "mu"))).alias(
                    "pm"
                )
            )
            .select(
                "m",
                "code",
                F.transform(
                    F.col("pm"), lambda s: s["mu"].cast("float")
                ).alias("new_cw"),
            )
        )
        codebooks = (
            codebooks.join(means, ["m", "code"], "left")
            .select(
                "m",
                "code",
                F.coalesce("new_cw", "codeword").alias("codeword"),
            )
            .localCheckpoint()
        )
    return codebooks


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    n_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``n_sub`` codebook indices (nearest codeword
    per subspace, L2, ties to the lower code).

    The codebook join is a broadcast with n_codes fanout per (vector,
    subspace); what shuffles back for the argmin is (id, m, code, dist)
    ids only — vectors never leave their map partition.  Returns
    (id, codes array<int>), the 100 TB storage form: dim floats → n_sub
    bytes (here ints) per vector.
    """
    dim_over_m = F.size(F.col("__v")) / n_sub
    sub = corpus.select(
        F.col(id_col).alias("__id"),
        F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("m"),
        F.col(vec_col).alias("__v"),
    ).select(
        "__id",
        "m",
        F.slice(
            "__v",
            (F.col("m") * dim_over_m + 1).cast("int"),
            dim_over_m.cast("int"),
        ).alias("sub"),
    )
    best = (
        sub.join(F.broadcast(codebooks), "m")
        .select(
            "__id",
            "m",
            "code",
            _l2sq(F.col("sub"), F.col("codeword")).alias("__d"),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__id", "m").orderBy("__d", "code")
            ),
        )
        .filter(F.col("__rn") == 1)
    )
    return (
        best.groupBy("__id")
        .agg(
            F.array_sort(F.collect_list(F.struct("m", "code"))).alias("mc")
        )
        .select(
            F.col("__id").alias(id_col),
            F.transform(F.col("mc"), lambda s: s["code"]).alias("codes"),
        )
    )


def pq_lut(
    queries: DataFrame,
    books: DataFrame,
    n_sub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-query ADC lookup table lut[m*n_codes + code] = dot(q_m,
    codeword_{m,code}) — ONE definition shared by pq_topk and the
    IVF-PQ store serving path, built relationally (broadcast codebook
    x query subvectors, one flat array per query)."""
    dim_over_m = F.size(F.col("__v")) / n_sub
    qsub = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("m"),
        F.col(vec_col).alias("__v"),
    ).select(
        "query_id",
        "m",
        F.slice(
            "__v",
            (F.col("m") * dim_over_m + 1).cast("int"),
            dim_over_m.cast("int"),
        ).alias("qsub"),
    )
    return (
        qsub.join(F.broadcast(books), "m")
        .select(
            "query_id",
            (F.col("m") * n_codes + F.col("code")).alias("slot"),
            F.aggregate(
                F.zip_with(
                    "qsub", "codeword", lambda x, y: (x * y).cast("double")
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("contrib"),
        )
        .groupBy("query_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("slot", "contrib"))).alias(
                "sc"
            )
        )
        .select(
            "query_id",
            F.transform(F.col("sc"), lambda s: s["contrib"]).alias("lut"),
        )
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_sub: int = 8,
    n_codes: int = 16,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: the corpus is scanned in
    COMPRESSED form — each candidate costs ``n_sub`` lookup-table reads
    instead of ``dim`` multiplies — and only (query, id, approx score)
    rows ever shuffle.

    Per query, the lookup table lut[m·n_codes + code] = dot(q_m,
    codeword_{m,code}) is built relationally (broadcast codebook ⋈
    queries, one flat array per query) and broadcast with the queries;
    the scan scores codes via ``element_at`` inside one codegen
    ``aggregate``.  Approximate cosine for unit-normalized inputs is the
    sum of subspace dots; ranking ties break by neighbor id.  The
    compression is what makes a 100 TB corpus scannable from memory:
    dim×4 bytes → n_sub codes; IVF list pruning (ivf_topk) composes in
    front unchanged.
    """
    books = pq_codebooks(corpus, n_sub, n_codes, id_col, vec_col)
    encoded = pq_encode(corpus, books, n_sub, id_col, vec_col)
    lut = pq_lut(queries, books, n_sub, n_codes, id_col, vec_col)
    scored = (
        encoded.crossJoin(F.broadcast(lut))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            pq_adc_score(n_sub, n_codes).alias("approx_score"),
        )
    )
    if rerank:
        return pq_rerank(
            scored,
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("query_vec"),
            ),
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("corpus_vec"),
            ),
            rerank,
            k,
        )
    return rank_topk(scored, "approx_score", k)


def pq_adc_score(n_sub: int, n_codes: int):
    """The ADC approximate score of a row's ``codes`` against its
    query's ``lut`` (:func:`pq_lut`): ``n_sub`` table reads summed in
    one codegen ``aggregate`` — the one scoring expression of every PQ
    scan."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        F.lit(0.0),
        lambda acc, m: acc
        + F.element_at(
            F.col("lut"),
            (m * n_codes + F.element_at(F.col("codes"), m + 1) + 1).cast(
                "int"
            ),
        ),
    )


def pq_rerank(
    scored: DataFrame, qv: DataFrame, cv: DataFrame, shortlist: int, k: int
) -> DataFrame:
    """PQ + re-rank (the production pairing): the compressed scan's
    ``scored`` (query_id, neighbor_id, approx_score) keeps a shortlist
    of ``shortlist`` candidates per query, then ONLY those ids fetch
    their full vectors — ``cv`` (neighbor_id, corpus_vec), queries
    ``qv`` (query_id, query_vec) — for an exact cosine.  Quantization
    noise decides membership of a generous shortlist, never the final
    order.  Returns (query_id, neighbor_id, score, rank ≤ k)."""
    head = rank_topk(scored, "approx_score", shortlist)
    exact = (
        head.select("query_id", "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine("query_vec", "corpus_vec").alias("score"),
        )
    )
    return rank_topk(exact, "score", k)


# ---------------------------------------------------------------------------
# Graph-based ANN (NSW / HNSW / NN-descent) — moved here from
# queries_round4.py (round-8 verdict task 5): the BUILDERS are operators,
# the declared queries stay in the query modules.
# ---------------------------------------------------------------------------

FP_SCALE = 16777216.0  # 2^24 — exact power-of-two fixed-point scale


def fp_dot(a, b):
    """Fixed-point inner product: each element product is quantized to
    a BIGINT (floor(x*y*2^24 + 0.5) of the identical IEEE doubles), so
    the SUM is an associative integer — bit-identical in any engine at
    any fold order, unlike a float dot product."""
    prod = F.zip_with(
        a,
        b,
        lambda x, y: F.floor(
            x.cast("double") * y.cast("double") * F.lit(FP_SCALE)
            + F.lit(0.5)
        ).cast("long"),
    )
    return F.aggregate(
        prod, F.lit(0).cast("long"), lambda acc, v: acc + v
    )


# NSW graph-search parameters: M out-degree, W beam width, H hops, K answer
NSW_M, NSW_W, NSW_H, NSW_K = 8, 16, 3, 10


def _topm_edges(dots: DataFrame, m: int) -> DataFrame:
    """Per-src top-``m`` of a scored (src, dst, dot) frame with id
    tie-breaks — the ONE ranking every graph builder uses."""
    wk = Window.partitionBy("src").orderBy(F.desc("dot"), "dst")
    return (
        dots.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= m)
        .select("src", "dst")
    )


def _symmetrize(knn: DataFrame) -> DataFrame:
    """Undirect a (src, dst) adjacency — the ONE edge-set closure."""
    return knn.unionByName(
        knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates(["src", "dst"])


def _score_pairs(emb: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact fixed-point dot for each (src, dst) candidate pair."""
    ea = emb.select(F.col("vec_id").alias("src"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("vb"))
    return cand.join(ea, "src").join(eb, "dst").select(
        "src", "dst", fp_dot(F.col("va"), F.col("vb")).alias("dot")
    )


def nsw_build_edges(emb: DataFrame, m: int = NSW_M) -> DataFrame:
    """Symmetrized exact top-``m`` kNN adjacency (the offline graph
    build).  ONE definition shared by the declared queries (NSW layer
    0, HNSW upper layer) and the scale tool — the serving-flatness
    evidence must measure the algorithm under the oracle gate, not a
    copy that can drift (the bm25_contrib rule)."""
    a, b = emb.alias("a"), emb.alias("b")
    dots = (
        a.crossJoin(b)
        .filter(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("src"),
            F.col("b.vec_id").alias("dst"),
            fp_dot(F.col("a.embedding"), F.col("b.embedding")).alias(
                "dot"
            ),
        )
    )
    return _symmetrize(_topm_edges(dots, m))


def nsw_build_edges_lsh(
    emb: DataFrame,
    dim: int,
    m: int = NSW_M,
    num_planes: int = 8,
    num_tables: int = 6,
) -> DataFrame:
    """Scale tier of :func:`nsw_build_edges`: candidate pairs come from
    sign-LSH bucket collisions (OR-construction over ``num_tables``
    hash tables — operators/similarity.lsh_bucket, the same seeded
    hyperplanes dedup_embedding_cosine blocks with), then the exact
    fixed-point dot rescores candidates and keeps the per-src top-m,
    symmetrized.  Build cost is ∝ collision pairs (tunable via
    ``num_planes`` — buckets double per plane), never corpus²; the
    output has the same SHAPE as the exact build, so nsw_beam_search
    serves it unchanged.  Approximate by construction: a true
    neighbor missed by every table drops its edge (recall is tuned by
    num_tables; the graph stays navigable because symmetrization and
    the beam's breadth tolerate missing edges)."""
    return _symmetrize(
        _topm_edges(_lsh_candidate_dots(emb, dim, num_planes, num_tables), m)
    )


def _lsh_candidate_dots(
    emb: DataFrame, dim: int, num_planes: int, num_tables: int
) -> DataFrame:
    """Scored (src, dst, dot) candidates from sign-LSH bucket
    collisions — shared by the LSH build and the descent SEED (which
    ranks these scored pairs directly instead of rescoring them)."""

    tabs = [
        emb.select(
            "vec_id",
            F.lit(t).alias("tbl"),
            lsh_bucket("embedding", dim, num_planes, t).alias("bkt"),
        )
        for t in range(num_tables)
    ]
    bk = tabs[0]
    for t in tabs[1:]:
        bk = bk.unionByName(t)
    a, b = bk.alias("a"), bk.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst")
        )
        .dropDuplicates(["src", "dst"])
    )
    return _score_pairs(emb, cand)


def nsw_build_edges_descent(
    emb: DataFrame,
    m: int = NSW_M,
    iters: int = 4,
    seed_planes: int = 6,
    seed_tables: int = 4,
    dim: int = 64,
) -> DataFrame:
    """The honest 100 TB build path for the kNN graph — NN-DESCENT
    (Dong et al., WWW'11): seed a rough graph from cheap sign-LSH
    collisions, then iterate "my neighbors' neighbors are candidate
    neighbors" — join the symmetrized adjacency with itself, rescore
    candidates with the exact fixed-point dot, keep the per-src top-m.
    Each round costs O(n·(2m)²) candidate scorings — LINEAR in corpus
    size — and empirically converges to the exact kNN graph in a few
    rounds (sign-LSH ALONE recovers ~25% of kNN edges here, because
    k-th-neighbor similarity is far below near-dup range; descent
    repairs exactly that).  Deterministic: seeded hyperplanes, exact
    integer scores, id tie-breaks — the output is a pure function of
    the corpus.

    Measured honestly on the RANDOM test embeddings — the adversarial
    case for descent, since uniform high-dim vectors have almost no
    neighborhood transitivity for "my neighbors' neighbors" to
    exploit: edge recovery plateaus ≈70-75% (4→8 rounds), yet the
    SERVING metric barely moves — beam-search recall@10 over the
    descent graph is 21/30 vs 22/30 over the exact graph at sf0.01.
    Clustered real-world embeddings converge far higher (the paper's
    regime); the declared ann_nsw_topk keeps the exact build so its
    oracle replays bit-for-bit, and this builder is the documented,
    unit-tested linear-cost path for corpora where n² is not an
    option."""
    # seed ranks the LSH-scored candidates DIRECTLY (no rescoring pass)
    knn = _topm_edges(
        _lsh_candidate_dots(emb, dim, seed_planes, seed_tables), m
    ).localCheckpoint(eager=False)
    for _ in range(iters):
        sym = _symmetrize(knn)
        x, y = sym.alias("x"), sym.alias("y")
        cand = (
            x.join(y, F.col("x.dst") == F.col("y.src"))
            .select(
                F.col("x.src").alias("src"), F.col("y.dst").alias("dst")
            )
            .filter(F.col("src") != F.col("dst"))
            .unionByName(knn)
            .dropDuplicates(["src", "dst"])
        )
        knn = _topm_edges(_score_pairs(emb, cand), m).localCheckpoint(
            eager=False
        )
    return _symmetrize(knn)


def nsw_longrange_edges(ids: DataFrame, n: int, links: int = 4) -> DataFrame:
    """Deterministic LONG-RANGE links — the small-world ingredient
    (Kleinberg routing; NSW gets it implicitly from insertion-order
    randomness): each ``vec_id`` of ``ids`` gains ``links`` md5-derived
    random out-neighbors, symmetrized.  Without these, a kNN graph over
    CLUSTERED embeddings degenerates into disconnected near-cliques and
    a fixed-entry beam can never leave the entry's cluster — measured
    in SCALE.md "Round-7 continuation": recall@10 went 10/50 → 50/50
    at 20k clustered vectors when these links were added.  dst is
    hash(src, j) mod ``n`` over the dense vec_id domain; self-links
    drop.  The formula is stateless: the one-shot graph build passes
    the whole corpus and its count, the descent MV one batch's ids and
    the live id-domain size at insert time (a tunnel whose dst has not
    arrived yet dangles until it does)."""
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
            % n
        ).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return lr.unionByName(
        lr.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates(["src", "dst"])


def nsw_beam_search(
    emb: DataFrame,
    edges: DataFrame,
    q: DataFrame,
    on_candidates=None,
    entry: DataFrame | None = None,
    hops: int = NSW_H,
    width: int = NSW_W,
) -> DataFrame:
    """Deterministic breadth-beam search: ``hops`` rounds of expand →
    rescore → top-``width`` with id tie-breaks.  ``q`` is (query_id,
    qv); returns the final (query_id, node, rel) beam.  ``entry`` is an
    optional per-query (query_id, node) seed frame (HNSW's upper layer
    routes through it); default is the global min-vec_id node.
    ``on_candidates`` (if given) observes each hop's candidate frame —
    the scale tool counts rows through it without forking the loop."""
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

    if entry is None:
        entry0 = emb.agg(F.min("vec_id").alias("node"))
        seed = q.select("query_id").crossJoin(F.broadcast(entry0))
    else:
        seed = entry.select("query_id", "node")
    beam = score(seed).localCheckpoint(eager=False)
    for _hop in range(hops):
        s = beam.alias("s")
        cand = (
            beam.select("query_id", "node")
            .unionByName(
                s.join(
                    edges.alias("e"), F.col("s.node") == F.col("e.src")
                ).select(
                    F.col("s.query_id").alias("query_id"),
                    F.col("e.dst").alias("node"),
                )
            )
            .dropDuplicates(["query_id", "node"])
        )
        if on_candidates is not None:
            on_candidates(cand)
        wb = Window.partitionBy("query_id").orderBy(F.desc("rel"), "node")
        beam = (
            score(cand)
            .withColumn("rn", F.row_number().over(wb))
            .filter(F.col("rn") <= width)
            .drop("rn")
            .localCheckpoint(eager=False)
        )
    return beam


