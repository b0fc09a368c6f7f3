"""Dedup extensions (embedding-cosine, SemDeDup, components/survivors,
levenshtein-adjacent text gates) + text-quality gates + IVF/PQ ANN
declared rows.  Split out of queries.py (round-8 verdict task 5);
bodies unchanged, same oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table
from .functions import text as TXT
from .operators import dedup, similarity
from .queries_shared import _ORACLE_ANN_EXACT_HEAD, _ann_recall_gate


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.4 — the synthetic
    embeddings are near-orthogonal random vectors; real corpora use ~0.9).

    Runs the LSH-blocked plan (sign-random-projection OR-construction →
    equi self-join on (table, bucket) → exact cosine verify) — no
    CartesianProduct node (plan-guarded).  The oracle is the exact
    all-pairs SQL: at this weak threshold the auto-chosen (P=2, L=23)
    construction has per-pair miss < 1e-5, and the seeded hyperplanes are
    deterministic, so blocked ≡ exact is a stable, verified property of
    this dataset (asserted at sf0.001/0.01 in tests), not luck per run."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = dedup.embedding_cosine_pairs_blocked(emb, dim=64, threshold=0.4)
    return out.select("id_a", "id_b", F.round("score", 6).alias("score"))


ORACLE_DEDUP_COSINE = """
WITH e AS (SELECT vec_id, embedding FROM embeddings),
s AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(range(1, len(a.embedding) + 1),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
          * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
                  i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS score
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(score, 6) AS score FROM s WHERE score >= 0.4
"""


def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: word/digit/punct segmentation by regex —
    the cheap deterministic token estimator for data budgeting."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TXT.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        TXT.token_count("text").alias("n_ws_tokens"),
    )


ORACLE_BPE = r"""
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
       len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS n_ws_tokens
FROM documents
"""


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (dedup.semantic_dedup): within-cluster cosine dedup —
    drop every vector with a lower-id neighbor at cosine ≥ 0.3 inside
    its cluster (the ``label`` column stands in for the k-means
    assignment; the pair space is Σ|cluster|², the SemDeDup scale
    contract).  Output: per cluster the total, survivor count, and a
    survivor-id checksum; the oracle replays the pairwise keep rule as
    a NOT EXISTS self-join with the identical rounded-cosine cut."""
    emb = load_table(spark, sf_dir, "embeddings")
    kept = dedup.semantic_dedup(
        emb, cluster_col="label", threshold=0.3
    )
    return (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_total"))
        .join(
            kept.groupBy("label").agg(
                F.count(F.lit(1)).alias("n_kept"),
                F.sum("vec_id").alias("kept_id_sum"),
            ),
            "label",
        )
        .orderBy("label")
    )


ORACLE_DEDUP_SEMANTIC = """
WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
dropped AS (
  SELECT DISTINCT v.vec_id
  FROM e u JOIN e v ON u.label = v.label AND u.vec_id < v.vec_id
  WHERE round(
      list_sum(list_transform(range(1, len(u.embedding) + 1),
        i -> CAST(u.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(range(1, len(u.embedding) + 1),
          i -> CAST(u.embedding[i] AS DOUBLE) * CAST(u.embedding[i] AS DOUBLE))))
       * sqrt(list_sum(list_transform(range(1, len(v.embedding) + 1),
          i -> CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)))))
    , 6) >= 0.3
),
kept AS (
  SELECT label, vec_id FROM e
  WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
)
SELECT t.label, t.n_total, k.n_kept, k.kept_id_sum
FROM (SELECT label, count(*) AS n_total FROM e GROUP BY label) t
JOIN (SELECT label, count(*) AS n_kept, CAST(sum(vec_id) AS BIGINT) AS kept_id_sum
      FROM kept GROUP BY label) k
  ON t.label = k.label
ORDER BY t.label
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned ANN as a deterministic acceptance row (centroid
    seeding is hash-ranked and deterministic; the gated CONTRACT is
    mean recall@10 ≥ 0.4 vs the in-query brute-force exact top-10 —
    measured 0.58/0.65 at sf0.001/sf0.01, 0.988 on the clustered
    fixture).  Underlying production operator:
    operators/similarity.ivf_topk (probe-pruned equi-join)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    approx = similarity.ivf_topk(emb, queries, k=10, n_lists=16, n_probe=6)
    exact = similarity.brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    return _ann_recall_gate(approx, exact, bound=0.4)


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC ANN with exact re-rank, as a
    deterministic acceptance row (codebook seeding is hash-ranked like
    IVF's; gated CONTRACT: mean recall@10 ≥ 0.4 vs brute force —
    measured 0.51/0.54 at sf0.001/sf0.01, 0.98 on the clustered
    fixture).  The corpus is scanned compressed — 8 int codes per
    vector instead of 64 floats, the storage/serving form a 100 TB
    vector store actually holds in memory; only the 50-deep shortlist
    fetches full vectors for the exact cosine re-rank.  Underlying
    production operator: operators/similarity.pq_topk."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    approx = similarity.pq_topk(
        emb, queries, k=10, n_sub=8, n_codes=16, rerank=50
    )
    exact = similarity.brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    return _ann_recall_gate(approx, exact, bound=0.4)


# ---------------------------------------------------------------------------
# §2.12 — near-dup clustering + survivorship (connected components)
# ---------------------------------------------------------------------------

# the ngram-Jaccard pair graph (same params as dedup_ngram_jaccard) as a
# WITH-clause body reusable by both clustering oracles
_ORACLE_NGRAM_PAIRS_CTES = r"""
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), sh AS (
  -- mirrors functions/text.shingles(): docs with < k tokens contribute
  -- ONE whole-text shingle instead of vanishing from the pair space
  SELECT doc_id,
         unnest(CASE WHEN len(toks) < 3
                THEN [array_to_string(toks, ' ')]
                ELSE list_distinct(list_transform(range(1, len(toks) - 3 + 2),
                     i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                END) AS shingle
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.2
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), reach(a, b) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
), comps AS (
  SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a
)
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup family clustering: ngram-Jaccard pair graph → connected
    components by iterative min-label propagation (operators/dedup.py
    connected_components).  The DuckDB oracle computes the same fixpoint
    as a recursive-CTE transitive closure + min — an iterative Spark
    algorithm under the exact-correctness gate."""
    docs = load_table(spark, sf_dir, "documents")
    edges = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.2)
    return dedup.connected_components(edges.select("id_a", "id_b"))


ORACLE_DEDUP_COMPONENTS = (
    "WITH RECURSIVE " + _ORACLE_NGRAM_PAIRS_CTES + "SELECT id, comp FROM comps"
)


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus survivorship: every document labeled with its near-dup
    family and canonical-keeper flag (smallest id per family; isolated
    docs keep themselves).  ``WHERE is_canonical`` IS the dedup."""
    docs = load_table(spark, sf_dir, "documents")
    edges = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.2)
    return dedup.dedup_survivors(docs, edges.select("id_a", "id_b"))


ORACLE_DEDUP_SURVIVORS = (
    "WITH RECURSIVE "
    + _ORACLE_NGRAM_PAIRS_CTES
    + """
SELECT d.doc_id,
       coalesce(c.comp, d.doc_id) AS component,
       coalesce(c.comp, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN comps c ON c.id = d.doc_id
"""
)


# ---------------------------------------------------------------------------
# §2.12 — training-data hygiene: PII redaction, repetition quality gate,
# benchmark-contamination screen, per-language budget sampling
# ---------------------------------------------------------------------------


def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: deterministic synthetic PII (email / phone /
    IPv4 derived from doc_id) is planted into each document, then redacted
    to typed tags with RE2-compatible patterns (functions/text.py) — the
    oracle replants and re-redacts the same text in DuckDB, so pattern
    semantics must agree engine-to-engine.  Counts audit what was found."""
    docs = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.format_string(
            " contact user%d@example.com or +1-555-%04d from 10.0.%d.%d",
            F.col("doc_id"),
            F.col("doc_id") % 10000,
            F.col("doc_id") % 256,
            (F.col("doc_id") * 7) % 256,
        ),
    )
    return docs.select(
        "doc_id",
        TXT.redact_pii(planted).alias("redacted"),
        F.regexp_count(planted, F.lit(TXT.PII_EMAIL)).alias("n_emails"),
        F.regexp_count(planted, F.lit(TXT.PII_IPV4)).alias("n_ips"),
        F.regexp_count(planted, F.lit(TXT.PII_PHONE)).alias("n_phones"),
    )


ORACLE_PII = r"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or +1-555-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.0.' ||
         CAST(doc_id % 256 AS VARCHAR) || '.' ||
         CAST((doc_id * 7) % 256 AS VARCHAR) AS t
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                          '<EMAIL>', 'g'),
           '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
         '\+\d{1,2}-\d{3}-\d{4}', '<PHONE>', 'g') AS redacted,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(t, '\b\d{1,3}(\.\d{1,3}){3}\b')) AS INTEGER) AS n_ips,
       CAST(len(regexp_extract_all(t, '\+\d{1,2}-\d{3}-\d{4}')) AS INTEGER) AS n_phones
FROM planted
"""


def q_text_repetition_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gate: top-token frequency ratio
    (explode → codegen'd two-level aggregate) and duplicate-2-gram ratio
    (pure array expressions, no explode) per document, plus the pass
    flag.  The shuffle carries one (doc, token) count row per distinct
    token — never the text."""
    docs = load_table(spark, sf_dir, "documents")
    toks = TXT.tokens(F.lower(F.col("text")))
    ex = docs.select("doc_id", F.explode(toks).alias("tok"))
    per_tok = ex.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    top = per_tok.groupBy("doc_id").agg(
        F.max("c").alias("top_cnt"), F.sum("c").alias("n_tok")
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - 2, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, 2), " "),
    )
    arr = docs.select(
        "doc_id",
        F.size(grams).alias("n2"),
        F.size(F.array_distinct(grams)).alias("n2_distinct"),
    )
    top_ratio = F.col("top_cnt") / F.col("n_tok")
    dup_ratio = (F.col("n2") - F.col("n2_distinct")) / F.col("n2")
    return (
        top.join(arr, "doc_id")
        .select(
            "doc_id",
            F.round(top_ratio, 6).alias("top_tok_ratio"),
            F.round(dup_ratio, 6).alias("dup_2gram_ratio"),
            ((top_ratio <= 0.1) & (dup_ratio <= 0.55)).alias("passes"),
        )
    )


ORACLE_REPETITION = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), per_tok AS (
  SELECT doc_id, unnest(toks) AS tok FROM toks
), counts AS (
  SELECT doc_id, tok, count(*) AS c FROM per_tok GROUP BY 1, 2
), top AS (
  SELECT doc_id, max(c) AS top_cnt, CAST(sum(c) AS BIGINT) AS n_tok
  FROM counts GROUP BY doc_id
), grams AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
                        i -> array_to_string(list_slice(toks, i, i + 1), ' ')) AS g
  FROM toks
), arr AS (
  SELECT doc_id, len(g) AS n2, len(list_distinct(g)) AS n2_distinct FROM grams
)
SELECT t.doc_id,
       round(CAST(top_cnt AS DOUBLE) / n_tok, 6) AS top_tok_ratio,
       round(CAST(n2 - n2_distinct AS DOUBLE) / n2, 6) AS dup_2gram_ratio,
       (CAST(top_cnt AS DOUBLE) / n_tok <= 0.1
        AND CAST(n2 - n2_distinct AS DOUBLE) / n2 <= 0.55) AS passes
FROM top t JOIN arr USING (doc_id)
"""


def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: corpus documents sharing any word
    5-gram with the benchmark set (doc_id < 20 stands in for the eval
    suite).  Join key is the hashed shingle (8-byte longs shuffle, never
    strings); the oracle joins the same shingles as strings — identical
    result barring 64-bit collisions."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                TXT.shingles("text", 5), lambda s: F.xxhash64(s)
            )
        ).alias("g"),
    )
    bench = sh.filter(F.col("doc_id") < 20).select("g").distinct()
    return (
        sh.filter(F.col("doc_id") >= 20)
        .join(bench, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_5grams"))
    )


ORACLE_CONTAMINATION = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), sh AS (
  -- mirrors shingles(k=5): short docs contribute one whole-text gram
  SELECT doc_id,
         unnest(CASE WHEN len(toks) < 5
                THEN [array_to_string(toks, ' ')]
                ELSE list_distinct(list_transform(range(1, len(toks) - 5 + 2),
                     i -> array_to_string(list_slice(toks, i, i + 4), ' ')))
                END) AS g
  FROM toks
), bench AS (
  SELECT DISTINCT g FROM sh WHERE doc_id < 20
)
SELECT s.doc_id, count(*) AS n_shared_5grams
FROM sh s JOIN bench b ON s.g = b.g
WHERE s.doc_id >= 20
GROUP BY s.doc_id
"""

_LANG_BUDGET = {"en": 100, "es": 40, "de": 40, "fr": 40, "zh": 40}


def q_sample_lang_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget sampling: deterministic priority sample —
    rank documents inside each language by md5(doc_id) (an engine-portable
    keyed priority; never an RNG tied to cluster layout) and keep each
    language's budget.  The down-sampling knob of a multilingual data
    mix."""
    docs = load_table(spark, sf_dir, "documents")
    budget = F.create_map(
        *[F.lit(x) for kv in _LANG_BUDGET.items() for x in kv]
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "lang")
        .withColumn("priority_rank", F.row_number().over(w))
        .filter(F.col("priority_rank") <= budget[F.col("lang")])
    )


ORACLE_LANG_BUDGET = """
SELECT doc_id, lang, priority_rank FROM (
  SELECT doc_id, lang,
         CAST(row_number() OVER (
           PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS INTEGER) AS priority_rank
  FROM documents
)
WHERE priority_rank <= CASE lang WHEN 'en' THEN 100 WHEN 'es' THEN 40
                       WHEN 'de' THEN 40 WHEN 'fr' THEN 40
                       WHEN 'zh' THEN 40 ELSE 0 END
"""


REGISTRY = (
    (q_dedup_embedding_cosine, ORACLE_DEDUP_COSINE),
    (q_dedup_semantic, ORACLE_DEDUP_SEMANTIC),
    (q_text_bpe_tokens, ORACLE_BPE),
    (q_ann_ivf_topk, _ORACLE_ANN_EXACT_HEAD),
    (q_ann_pq_topk, _ORACLE_ANN_EXACT_HEAD),
    (q_dedup_components, ORACLE_DEDUP_COMPONENTS),
    (q_dedup_survivors, ORACLE_DEDUP_SURVIVORS),
    (q_text_pii_redact, ORACLE_PII),
    (q_text_repetition_gate, ORACLE_REPETITION),
    (q_text_contamination, ORACLE_CONTAMINATION),
    (q_sample_lang_budget, ORACLE_LANG_BUDGET),
)
