"""Scalar (int8) embedding quantization — the ANN storage/bandwidth lever.

At 100 TB the embedding column IS the dataset: a 1024-dim float32 vector
is 4 KB/row, and the ANN scan's cost is bytes moved.  Symmetric per-vector
scalar quantization stores `q[i] = round(x[i]/scale)` as int8 with one
float `scale = max|x|/127` per vector — 4× smaller, and the candidate
scan's dot products become integer arithmetic.  The standard deployment
(FAISS SQ8, public knowledge) is two-phase: score candidates on the
quantized representation, then RE-RANK the survivors exactly — which is
how :func:`ivf_topk_quantized` is built, so the approximation can only
affect which candidates are considered, never the reported cosine.

Everything is deterministic and dialect-shared: rounding is an explicit
`floor(x/scale + 0.5)` (round-half-toward-+inf — stated policy; the
engines' native round() half-rule is NOT relied on), the integer dot is
exact BIGINT in both engines, and the approximate cosine reuses the
STORED exact norm so the only approximation is the quantized dot.
column-pruning note: with (q, qscale, norm) materialized in a parquet
layout, the candidate scan reads ~1/4 the bytes of the fp column and the
re-rank joins the fp embeddings of candidates only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import dialect as D
from ..util import fan_out
from .similarity import dot_sql, norm_sql

Q_MAX = 127  # int8 symmetric range


def qscale_sql(d: str, vec: str) -> str:
    """Per-vector quantization scale max|x|/127 (0.0 for a zero vector)."""
    if d == D.SPARK:
        mx = f"array_max(transform({vec}, x -> abs(CAST(x AS DOUBLE))))"
    else:
        mx = f"list_max(list_transform({vec}, x -> abs(CAST(x AS DOUBLE))))"
    return f"({mx} / {float(Q_MAX)!r})"


def quantize_sql(d: str, vec: str, scale: str) -> str:
    """int8 code array: floor(x/scale + 0.5), zero-scale → all-zero codes.
    The explicit floor(+0.5) is the SHARED rounding policy — engine-native
    round() half-rules differ and would silently diverge the codes.
    Codes are TINYINT (Spark ByteType / DuckDB int8 — values are bounded
    to ±127 by construction), so the MATERIALIZED layout really is 1-byte
    elements, matching the 4×-smaller storage claim rather than relying
    on parquet integer packing to recover it from array<int>."""
    zero = "CAST(0 AS TINYINT)"
    body = f"CAST(floor(CAST(x AS DOUBLE) / {scale} + 0.5) AS TINYINT)"
    if d == D.SPARK:
        return (f"CASE WHEN {scale} = 0.0 THEN "
                f"transform({vec}, x -> {zero}) "
                f"ELSE transform({vec}, x -> {body}) END")
    return (f"CASE WHEN {scale} = 0.0 THEN "
            f"list_transform({vec}, x -> {zero}) "
            f"ELSE list_transform({vec}, x -> {body}) END")


def int_dot_sql(d: str, a: str, b: str) -> str:
    """Σ a[i]·b[i] over int code arrays — EXACT (BIGINT, order-free)."""
    if d == D.SPARK:
        return (f"aggregate(transform(sequence(1, size({a})), "
                f"i -> CAST(element_at({a}, i) AS BIGINT) * "
                f"CAST(element_at({b}, i) AS BIGINT)), "
                f"CAST(0 AS BIGINT), (acc, x) -> acc + x)")
    return (f"list_sum(list_transform(generate_series(1, len({a})), "
            f"i -> CAST({a}[i] AS BIGINT) * CAST({b}[i] AS BIGINT)))")


def quantize_vectors(vectors: DataFrame, vec_col: str = "embedding"
                     ) -> DataFrame:
    """vectors + (`q` int8-code array, `qscale`, `norm`) — one codegen
    projection riding the scan; at ingest time this is what you PERSIST
    so every later candidate scan reads the 1-byte codes, not the floats."""
    scale = qscale_sql(D.SPARK, vec_col)
    return (fan_out(vectors)
            .withColumn("qscale", F.expr(scale))
            .withColumn("q", F.expr(quantize_sql(D.SPARK, vec_col, "qscale")))
            .withColumn("norm", F.expr(norm_sql(D.SPARK, vec_col))))


def ivf_topk_quantized(vectors: DataFrame, queries: DataFrame,
                       centroids, k: int = 5, n_probe: int = 2,
                       expand: int = 4, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """IVF-SQ8: probe the query's `n_probe` cells, score THEIR members on
    int8 codes, re-rank the top k·expand exactly — the composition FAISS
    deploys at billion-vector scale, here as pure Catalyst plans.  Cell
    probing bounds WHICH rows are touched (n_probe/n_cells of the
    corpus); quantization bounds the BYTES per touched row (codes, not
    floats); the exact re-rank keeps reported cosines bit-equal to
    :func:`~.similarity.ivf_topk` whenever the candidate sets agree.

    `vectors` may be a :func:`~.similarity.build_ann_index` corpus
    (centroid_id + norm present; codes computed on the fly) or carry
    precomputed (q, qscale) from :func:`quantize_vectors`.  `centroids`
    is the collected [(id, coeffs)] list (index sidecar)."""
    from .similarity import (_assign_expr, _collect_centroids,
                             ivf_probe_col)

    cents = _collect_centroids(centroids)
    if not cents:
        id_type = vectors.schema[id_col].dataType
        return (queries.select(
            F.col(id_col).alias("query_id"),
            F.lit(None).cast(id_type).alias("neighbor_id"),
            F.lit(None).cast("double").alias("cosine"),
            F.lit(None).cast("int").alias("rank")).filter(F.lit(False)))
    corpus = vectors
    if "centroid_id" not in corpus.columns:
        corpus = fan_out(corpus).withColumn(
            "centroid_id", F.expr(_assign_expr(vec_col, cents)))
    if "norm" not in corpus.columns:
        corpus = corpus.withColumn(
            "norm", F.expr(norm_sql(D.SPARK, vec_col)))
    if not {"q", "qscale"} <= set(corpus.columns):
        scale = qscale_sql(D.SPARK, vec_col)
        corpus = (corpus.withColumn("qscale", F.expr(scale))
                  .withColumn("q", F.expr(
                      quantize_sql(D.SPARK, vec_col, "qscale"))))
    v = (corpus.select(F.col(id_col).alias("neighbor_id"), "q", "qscale",
                       F.col("norm").alias("nn"), "centroid_id")
         .filter(F.col("nn") > 0))
    qb = (quantize_vectors(queries, vec_col)
          .withColumn("centroid_id",
                      F.explode(ivf_probe_col(vec_col, cents, n_probe)))
          .select(F.col(id_col).alias("query_id"),
                  F.col(vec_col).alias("qv"),
                  F.col("q").alias("qq"), F.col("qscale").alias("qs"),
                  F.col("norm").alias("qn"), "centroid_id")
          .filter(F.col("qn") > 0))
    approx = (F.broadcast(qb).join(v, "centroid_id")
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .withColumn("approx", F.expr(
                  f"qs * qscale * CAST({int_dot_sql(D.SPARK, 'qq', 'q')} "
                  f"AS DOUBLE) / (qn * nn)")))
    wa = Window.partitionBy("query_id").orderBy(F.desc("approx"),
                                                F.asc("neighbor_id"))
    cand = (approx.withColumn("arn", F.row_number().over(wa))
            .filter(F.col("arn") <= k * expand)
            .select("query_id", "neighbor_id", "qv", "qn", "nn"))
    nvs = vectors.select(F.col(id_col).alias("neighbor_id"),
                         F.col(vec_col).alias("nv"))
    rescored = cand.join(nvs, on="neighbor_id").withColumn(
        "cosine", F.expr(
            f"round({dot_sql(D.SPARK, 'qv', 'nv')} / (qn * nn), 6)"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (rescored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank")
            .orderBy("query_id", "rank"))
