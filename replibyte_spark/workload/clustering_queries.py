"""Semantic-clustering curation gates: SemDeDup within-cluster dedup,
cluster-balanced sampling, and the per-cluster corpus profile.

All three share one deterministic clustering of the `embeddings` table
(md5-sampled centroids, literal-inlined argmax assignment — the exact
machinery the IVF gates already oracle-check), so the DuckDB oracles
reproduce the assignment with the same `dot DESC, centroid_id DESC`
row_number idiom as `_ivf_oracle` and the operators' only new semantics
(keep-order, per-cell quota, per-cell coherence) are plain SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import dialect as D
from ..catalog import load_table
from ..operators import clustering as C
from ..operators import similarity as S
from . import Query, register

#: clusters for the 500-row sf0.01 fixture (~60/cell); at 100 TB k grows
#: with the corpus so cells stay bounded (SemDeDup uses ~100k clusters)
N_CLUSTERS = 8
#: fixture-tuned: embeddings are near-random (p99 pairwise cosine ≈ 0.29,
#: max ≈ 0.51), so 0.35 flags a real but small within-cluster dup set
SEM_T = 0.35
#: per-cluster quota for the balanced sample
CAP = 20


def _cent_cte() -> str:
    return (f"SELECT md5(CAST(vec_id AS VARCHAR)) AS centroid_id, "
            f"embedding AS cv FROM embeddings "
            f"ORDER BY centroid_id LIMIT {N_CLUSTERS}")


def _assign_cte(d: str) -> str:
    """vec_id, embedding, centroid_id, m (keep-order key) — the literal
    argmax of `_assign_expr` as SQL (dot DESC, centroid_id DESC, rn=1)."""
    dot_ec = S.dot_sql(d, "e.embedding", "c.cv")
    return f"""
  SELECT vec_id, embedding, centroid_id,
         md5(CAST(vec_id AS VARCHAR)) AS m
  FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dot_ec} DESC, c.centroid_id DESC) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
"""


def semantic_cluster_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup flag set: every vector with an earlier (md5 keep-order)
    cluster-mate above the cosine threshold, with its single best mate —
    the within-cluster semantic-dedup complement of the RP-LSH global
    `embedding_near_dup` path."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (C.semantic_cluster_dup_pairs(emb, SEM_T, N_CLUSTERS)
            .orderBy("vec_id"))


def _semdedup_oracle() -> str:
    d = D.DUCK
    cos = S.cosine_sql(d, "a.embedding", "b.embedding")
    return f"""
WITH cent AS (
  {_cent_cte()}
), assign AS (
  {_assign_cte(d)}
), pairs AS (
  SELECT a.vec_id, a.centroid_id, b.vec_id AS dup_of, {cos} AS cosine,
         b.m AS m_b, b.vec_id AS id_b
  FROM assign a JOIN assign b
    ON a.centroid_id = b.centroid_id
   AND (b.m < a.m OR (b.m = a.m AND b.vec_id < a.vec_id))
), best AS (
  SELECT vec_id, centroid_id, dup_of, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, m_b ASC, id_b ASC) AS rn
  FROM pairs WHERE cosine >= {SEM_T}
)
SELECT vec_id, centroid_id, dup_of, cosine
FROM best WHERE rn = 1 ORDER BY vec_id
"""


# driver-visible (r9): the SemDeDup gate
register(Query("semantic_cluster_dedup", semantic_cluster_dedup,
               _semdedup_oracle(), tags=("clustering", "dedup"),
               bench=True))


def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster quota sample: at most CAP rows per semantic cell,
    md5-rank keep-order — topic balancing for a training mix."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (C.cluster_balanced_sample(emb, CAP, N_CLUSTERS)
            .select("vec_id", "label", "centroid_id")
            .orderBy("centroid_id", "vec_id"))


def _balanced_oracle() -> str:
    d = D.DUCK
    return f"""
WITH cent AS (
  {_cent_cte()}
), assign AS (
  {_assign_cte(d)}
), ranked AS (
  SELECT a.vec_id, e.label, a.centroid_id,
         row_number() OVER (PARTITION BY a.centroid_id
                            ORDER BY a.m ASC, a.vec_id ASC) AS rn
  FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
)
SELECT vec_id, label, centroid_id
FROM ranked WHERE rn <= {CAP} ORDER BY centroid_id, vec_id
"""


register(Query("cluster_balanced_sample", cluster_balanced_sample,
               _balanced_oracle(), tags=("clustering", "sampling")),
         extra=True)


def cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster size + coherence (mean member-to-centroid cosine)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return C.cluster_profile(emb, N_CLUSTERS)


def _profile_oracle() -> str:
    d = D.DUCK
    cos = S.cosine_sql(d, "a.embedding", "c.cv")
    return f"""
WITH cent AS (
  {_cent_cte()}
), assign AS (
  {_assign_cte(d)}
)
SELECT a.centroid_id, count(*) AS n_members,
       round(avg({cos}), 6) AS mean_cosine
FROM assign a JOIN cent c ON c.centroid_id = a.centroid_id
GROUP BY 1 ORDER BY 1
"""


register(Query("cluster_profile", cluster_profile, _profile_oracle(),
               tags=("clustering",)), extra=True)


# --- cluster-balanced token-budget mixing -----------------------------------
# The semantic counterpart of token_budget_corpus_mix: equal token budgets
# per semantic CLUSTER instead of per language/source — downsample the
# dominant topic, keep the tail (the SemDeDup-style cluster-balancing step
# of a training mix).  Pure composition: ivf_assign (literal argmax) ->
# token_budget_mix (per-row hash predicate, no shuffle) -> one groupBy.

CB_BUDGET = 6000


def cluster_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count_sql
    from ..operators.sample import token_budget_mix
    from ..operators.similarity import _collect_centroids, default_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    cents = _collect_centroids(default_centroids(emb, N_CLUSTERS))
    joined = docs.join(emb, docs.doc_id == emb.vec_id) \
                 .select("doc_id", "text", "embedding")
    assigned = S.ivf_assign(joined, N_CLUSTERS, id_col="doc_id",
                            vec_col="embedding", centroids=cents)
    weights = {cid: 1.0 for cid, _ in cents}
    kept = token_budget_mix(assigned, weights, CB_BUDGET,
                            stratum_col="centroid_id", key_col="doc_id",
                            salt="cmix")
    tok = token_count_sql(D.SPARK, "text")
    return (kept.groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.expr(f"CAST({tok} AS BIGINT)")).alias("n_tokens"))
            .orderBy("centroid_id"))


def _cluster_mix_oracle() -> str:
    from ..functions.text import token_count_sql

    d = D.DUCK
    tok = token_count_sql(d, "text")
    # equal weights over all N_CLUSTERS centroids: every cluster's budget
    # share is the same constant, computed with the same float ops as
    # token_budget_thresholds (total * (w / wsum))
    share = repr(CB_BUDGET * (1.0 / N_CLUSTERS))
    combined = (f"({D.to_str(d, 'doc_id')} || '|' || "
                f"{D.to_str(d, 'centroid_id')})")
    draw = D.hash_uniform_mod(d, combined, "cmix", 1_000_000)
    return f"""
WITH cent AS (
  {_cent_cte()}
), assign AS (
  {_assign_cte(d)}
), docs_c AS (
  SELECT d.doc_id, d.text, a.centroid_id
  FROM documents d JOIN assign a ON a.vec_id = d.doc_id
), tot AS (
  SELECT centroid_id, sum(CAST({tok} AS BIGINT)) AS t
  FROM docs_c GROUP BY centroid_id
), thr AS (
  SELECT centroid_id, CASE WHEN coalesce(t, 0) > 0 THEN
    CAST(floor(least(1.0, {share} / t) * 1000000) AS BIGINT)
    ELSE 0 END AS thr
  FROM tot
), kept AS (
  SELECT d.* FROM docs_c d JOIN thr USING (centroid_id) WHERE {draw} < thr
)
SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST({tok} AS BIGINT)) AS BIGINT) AS n_tokens
FROM kept GROUP BY centroid_id ORDER BY centroid_id
"""


register(Query("cluster_budget_mix", cluster_budget_mix,
               _cluster_mix_oracle(), tags=("clustering", "sample")),
         extra=True)
