"""Semantic clustering for corpus curation: cluster-balanced sampling and
within-cluster semantic dedup (the SemDeDup recipe, Abbas et al. 2023,
arXiv:2303.09540 — public method).

Both operators ride the IVF machinery (:func:`..similarity.ivf_assign`):
centroids are a bounded, literal-inlined set, so cluster assignment is ONE
argmax projection fused into the corpus scan — no k× row amplification, no
corpus-wide shuffle to pick a cell.  Everything downstream keys on
`centroid_id`, which is exactly the partitioning a 100 TB corpus would
store the vectors under (the materialized ANN index already bucket-
partitions this way), so at scale these plans start from co-located cells
instead of paying the assignment at query time.

Scale contract:

- **cluster_balanced_sample** — one hash-partition shuffle on
  `centroid_id`, then a per-cell rank window.  Output is bounded by
  `k · cap` rows.  Cells are bounded by choosing k proportional to corpus
  size (SemDeDup uses ~100k clusters at ~100 TB scale); a skewed cell is
  one hot key — AQE skew-split handles the sort spill, and the md5 rank
  order means a cheap pre-filter (`md5 < t`) can shrink a pathological
  cell before the exact window if ever needed.
- **semantic_cluster_dedup** — the SemDeDup trade: instead of a global
  all-pairs or even a global LSH pass, pairwise cosine is computed ONLY
  within a cluster (an equi-join on `centroid_id`), so total pair work is
  Σ|cell|² ≈ N²/k — constant per-cell cost when k grows with N.  The
  keep-rule is deterministic (min md5 rank survives), so results are
  engine-reproducible and oracle-checkable, unlike the paper's
  random-keeper variant.

Reference analogue: none — Replibyte has no embedding analytics
(SURVEY.md §2.9); this extends the LLM-training-data layer alongside the
lexical (MinHash) and RP-LSH semantic dedup paths in
:mod:`.dedup` / :mod:`.similarity`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..util import materialize
from .similarity import ivf_assign


def _rank_cols(id_col: str):
    """Deterministic within-cluster keep-order: md5 of the id, id as
    tie-break (md5 collisions are practically impossible, the tie-break
    just makes determinism unconditional)."""
    return [F.md5(F.col(id_col).cast("string")), F.col(id_col)]


def cluster_balanced_sample(vectors: DataFrame, cap: int,
                            n_clusters: int = 16,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            centroids: "DataFrame | list | None" = None) -> DataFrame:
    """At most `cap` rows per semantic cluster, deterministically chosen
    (md5 rank — an unbiased, engine-stable stand-in for random-per-cell).

    The semantic complement of the per-source quota mixers in
    :mod:`.sample`: balances TOPICS rather than provenance, the standard
    counter to web-crawl head-topic domination when curating a training
    mix.  Returns the sampled vectors + `centroid_id`.
    """
    assigned = ivf_assign(vectors, n_clusters, id_col, vec_col,
                          centroids=centroids)
    w = Window.partitionBy("centroid_id").orderBy(*_rank_cols(id_col))
    return (assigned
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= cap)
            .drop("_rn"))


def semantic_cluster_dup_pairs(vectors: DataFrame, threshold: float,
                               n_clusters: int = 16,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               centroids: "DataFrame | list | None" = None,
                               decimals: int = 6) -> DataFrame:
    """SemDeDup flag pairs: for every vector that has an EARLIER
    cluster-mate (md5 keep-order) with cosine >= threshold, emit the
    single best (max cosine, then earliest) such mate.

    Output: (id, centroid_id, dup_of, cosine) — one row per FLAGGED
    vector; survivors are `vectors` anti-joined on `id`
    (:func:`semantic_cluster_dedup` does that composition).

    The join is an equi-join on `centroid_id` restricted to ordered pairs,
    so each cell contributes |cell|²/2 cosine evaluations and nothing
    crosses cells — the paper's exact cost model.  The cosine fold is a
    higher-order-function expression (codegen, no UDF), shared with every
    other similarity operator via :func:`..similarity.cosine_sql`.
    """
    from .. import dialect as D
    from .similarity import dot_sql, norm_sql

    # eagerly materialize the self-join input (house idiom, see
    # embedding_near_dup_pairs_bucketed): assignment + norm compute once,
    # not once per join side, and lazily-persisted join sides race to fill
    # the same cache blocks.  The norm rides along so each candidate pair
    # costs ONE fold (the dot), not three — round(dot/(na·nb), d) is the
    # same expression tree as cosine_sql, so the DuckDB oracle's inline
    # cosine stays bit-identical.
    assigned = materialize(
        ivf_assign(vectors, n_clusters, id_col, vec_col, centroids=centroids)
        .select(F.col(id_col).alias("_id"),
                F.col(vec_col).alias("_v"),
                F.col("centroid_id"),
                F.md5(F.col(id_col).cast("string")).alias("_m"),
                F.expr(norm_sql(D.SPARK, vec_col)).alias("_n")))
    a = assigned.select(F.col("_id").alias("_id_a"),
                        F.col("_v").alias("_v_a"), F.col("centroid_id"),
                        F.col("_m").alias("_m_a"), F.col("_n").alias("_n_a"))
    b = assigned.select(F.col("_id").alias("_id_b"),
                        F.col("_v").alias("_v_b"), F.col("centroid_id"),
                        F.col("_m").alias("_m_b"), F.col("_n").alias("_n_b"))
    cos = F.expr(f"round({dot_sql(D.SPARK, '_v_a', '_v_b')} / "
                 f"(_n_a * _n_b), {decimals})")
    pairs = (a.join(b, "centroid_id")
              # b strictly earlier in keep-order than a
              .filter((F.col("_m_b") < F.col("_m_a")) |
                      ((F.col("_m_b") == F.col("_m_a")) &
                       (F.col("_id_b") < F.col("_id_a"))))
              .withColumn("cosine", cos)
              .filter(F.col("cosine") >= F.lit(threshold)))
    best = Window.partitionBy("_id_a").orderBy(
        F.col("cosine").desc(), F.col("_m_b").asc(), F.col("_id_b").asc())
    return (pairs
            .withColumn("_rn", F.row_number().over(best))
            .filter(F.col("_rn") == 1)
            .select(F.col("_id_a").alias(id_col),
                    F.col("centroid_id"),
                    F.col("_id_b").alias("dup_of"),
                    "cosine"))


def semantic_cluster_dedup(vectors: DataFrame, threshold: float,
                           n_clusters: int = 16,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           centroids: "DataFrame | list | None" = None) -> DataFrame:
    """Survivors of SemDeDup: `vectors` minus the flagged set of
    :func:`semantic_cluster_dup_pairs` (left-anti on id — flags are
    batch-bounded, the corpus side streams)."""
    flagged = semantic_cluster_dup_pairs(
        vectors, threshold, n_clusters, id_col, vec_col,
        centroids=centroids).select(id_col)
    return vectors.join(flagged, on=id_col, how="left_anti")


def cluster_profile(vectors: DataFrame, n_clusters: int = 16,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    centroids: "DataFrame | list | None" = None,
                    decimals: int = 6) -> DataFrame:
    """Per-cluster corpus diagnostics: size and mean cosine of members to
    the cell's mean direction proxy (the centroid vector itself) — the
    same coherence quantity `corpus compact` reports as centroid drift,
    here exposed per cell for corpus analysis (a collapsing cell or a
    low-coherence catch-all cell is what tells you to re-pick k).

    One argmax projection + one groupBy on `centroid_id`; the per-member
    cosine to the assigned centroid is computed via a literal-inlined CASE
    over the bounded centroid set, so the whole profile is scan + one
    partial-aggregated shuffle of k rows.
    """
    from .. import dialect as D
    from .similarity import (_collect_centroids, _lit_dot_sql,
                             default_centroids, norm_sql)

    if centroids is None:
        centroids = default_centroids(vectors, n_clusters, id_col, vec_col)
    cents = _collect_centroids(centroids)
    assigned = ivf_assign(vectors, n_clusters, id_col, vec_col,
                          centroids=cents)
    # cosine(member, assigned centroid) as one CASE over the literal set
    import math
    # per-member cosine rounded like cosine_sql(decimals) so the DuckDB
    # oracle (which uses cosine_sql against the cent CTE) agrees per-row
    # BEFORE averaging; the centroid norm is a Python-side sqrt of the same
    # sequential float64 fold, `D`-suffixed so Spark parses a DOUBLE
    # literal, not a DECIMAL
    branches = " ".join(
        f"WHEN {D.q(cid)} THEN round({_lit_dot_sql(vec_col, cv)} / "
        f"({norm_sql(D.SPARK, vec_col)} * "
        f"{math.sqrt(sum(x * x for x in cv))!r}D), {decimals})"
        for cid, cv in cents)
    member_cos = F.expr(f"CASE centroid_id {branches} END")
    return (assigned
            .withColumn("_cos", member_cos)
            .groupBy("centroid_id")
            .agg(F.count("*").alias("n_members"),
                 F.round(F.avg("_cos"), decimals).alias("mean_cosine"))
            .orderBy("centroid_id"))
