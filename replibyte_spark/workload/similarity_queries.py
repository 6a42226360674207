"""Gate queries for similarity search over the embeddings table.

The brute-force top-k is oracle-checked (exact semantics, fold order
identical in both engines).  The LSH variant is the scale path; its recall
against brute force is asserted in the unit tests, and its bucket histogram
is oracle-checked here (bucket ids are deterministic md5-derived
hyperplanes, so DuckDB reproduces them exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import dialect as D
from ..catalog import load_table
from ..operators import similarity as S
from . import Query, register

K = 5
# vec_id % 20 == 0 → deterministic query subset (5% of the corpus).  A
# batch-retrieval-shaped load: enough queries that scan-vs-index COMPUTE
# dominates fixed stage overhead, so the bench shows the real ordering
# (index paths beat brute force) instead of measuring job-launch noise on
# a 20-query toy load (the r4 QUERY_MOD=100 setting).
QUERY_MOD = 20
# fixture embedding width (all sf; asserted in tests) — lets the RP bucket
# hyperplane coefficients inline as literals instead of per-row md5
EMB_DIM = 64


def ann_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return S.brute_force_topk(emb, queries, k=K)


ANN_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {S.cosine_sql(D.DUCK, 'q.qv', 'e.embedding')} AS cosine
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {K} ORDER BY query_id, rank
"""

# EXTRA (late r10): demoted from the driver window in favor of
# repetition_filter_summary (text_queries) — the window already carries
# four ANN rows (lsh/ivf/qivf/near_dup + index_admit); the exhaustive
# baseline stays oracle-checked in pytest and in the bench set
register(Query("ann_brute_force_topk", ann_brute_force, ANN_ORACLE,
               tags=("similarity",), bench=True), extra=True)


BITS = 6


def lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-size distribution of the random-projection LSH index."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (S.rp_lsh_buckets(emb, bits=BITS, dim=EMB_DIM)
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vectors"))
            .orderBy("bucket"))


LSH_HIST_ORACLE = f"""
SELECT {S.rp_bucket_sql(D.DUCK, 'embedding', BITS, dim=EMB_DIM)} AS bucket,
       count(*) AS n_vectors
FROM embeddings GROUP BY bucket ORDER BY bucket
"""

register(Query("lsh_bucket_histogram", lsh_bucket_histogram, LSH_HIST_ORACLE,
               tags=("similarity",)), extra=True)


IVF_CENTROIDS, IVF_PROBE = 16, 2

# materialized index fixture: built once per dataset CONTENT (fingerprint
# key, like the archive fixture) via build_ann_index, reused across gate
# and bench invocations.  This is the honest ANN cost model: the index is
# ingest-time storage layout, the measured cost is the QUERY path.  Every
# derived column is deterministic (md5 hyperplanes/centroid sample), so
# caching cannot change results — the oracle recomputes all of it from
# the raw table and must still hash-match.
_ANN_INDEX_PATHS: dict[str, str] = {}
_ANN_CENTROIDS: dict[str, list] = {}


def _build_cached_dir(final_path: str, build_fn) -> None:
    """Build a shared-tempdir fixture ATOMICALLY: build into a
    pid-suffixed sibling, then one os.rename into place — a concurrent
    process either sees the complete directory or none of it (the same
    reason _archive_fixture stages through path+'.tmp').  Rename loser
    discards its copy."""
    import os
    import shutil

    if os.path.isdir(final_path):
        return
    tmp = f"{final_path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build_fn(tmp)
    try:
        os.rename(tmp, final_path)
    except OSError:  # another process renamed first
        shutil.rmtree(tmp, ignore_errors=True)


def _ann_index_key(sf_dir: str) -> str:
    from .pipeline import _dataset_fingerprint

    return (sf_dir.strip("/").replace("/", "_") + "_"
            + _dataset_fingerprint(sf_dir, "embeddings")
            + f"_b{BITS}c{IVF_CENTROIDS}")


def _ann_index(spark: SparkSession, sf_dir: str):
    import os
    import tempfile

    key = _ann_index_key(sf_dir)
    path = _ANN_INDEX_PATHS.get(key)
    if path is None:
        path = os.path.join(tempfile.gettempdir(), f"rs_ann_index_{key}")
        def build(tmp: str) -> None:
            S.build_ann_index(load_table(spark, sf_dir, "embeddings"), tmp,
                              bits=BITS, n_centroids=IVF_CENTROIDS,
                              dim=EMB_DIM)

        _build_cached_dir(path, build)
        try:
            meta = S.load_ann_index_meta(spark, path, use_cache=False)
            assert (meta["bits"], meta["n_centroids"]) == \
                (BITS, IVF_CENTROIDS), f"built with {meta}"
        except Exception:
            # unreadable/missing/mismatched meta = stale layout → rebuild
            # (use_cache=False both times: the cache entry from the failed
            # probe must not shadow the freshly-rebuilt sidecar)
            import shutil
            shutil.rmtree(path, ignore_errors=True)
            _build_cached_dir(path, build)
            meta = S.load_ann_index_meta(spark, path, use_cache=False)
            assert (meta["bits"], meta["n_centroids"]) == \
                (BITS, IVF_CENTROIDS)
        corpus, cents = S.load_ann_index(spark, path)
        _ANN_INDEX_PATHS[key] = path
        _ANN_CENTROIDS[key] = cents
        return corpus, cents
    # warm path: centroid list cached in-process; only re-open the corpus
    corpus, _ = S.load_ann_index(spark, path, with_centroids=False)
    return corpus, _ANN_CENTROIDS[key]


def lsh_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full approximate top-k through the MATERIALIZED LSH index
    (single-probe): corpus buckets/norms are read back from the
    build_ann_index storage layout; only the (small) query side computes
    its buckets at query time."""
    corpus, _ = _ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    # dim=None → the query side uses the dynamic md5 bucket path (identical
    # buckets, tested): for ~100 query rows the per-row md5 cost is noise,
    # while the literal-inlined variant bloats the plan by 384 double
    # literals that Catalyst re-analyzes on every invocation
    return S.lsh_topk(corpus, queries, k=K, bits=BITS, multi_probe=0,
                      dim=None)


LSH_TOPK_ORACLE = f"""
WITH bk AS (
  SELECT vec_id, embedding,
         {S.rp_bucket_sql(D.DUCK, 'embedding', BITS, dim=EMB_DIM)} AS bucket
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         {S.cosine_sql(D.DUCK, 'q.embedding', 'v.embedding')} AS cosine
  FROM bk q JOIN bk v ON v.bucket = q.bucket AND v.vec_id <> q.vec_id
  WHERE q.vec_id % {QUERY_MOD} = 0
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {K} ORDER BY query_id, rank
"""

# bench=True: at 100 TB the LSH/IVF index paths are what actually runs —
# benching only the brute-force ground truth would leave the scale paths'
# perf unwatched (they must BEAT brute force at sf0.1, see SCALE.md)
register(Query("lsh_topk", lsh_topk_query, LSH_TOPK_ORACLE,
               tags=("similarity",), bench=True))


ND_BITS, ND_TABLES, ND_T = 4, 8, 0.45


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via the BUCKETED path (multi-table RP-LSH +
    exact cosine within candidates) — the scale path is what the gate
    checks; the quadratic exact variant is the unit tests' ground truth.
    Threshold tuned to the fixture distribution (max pairwise cosine ≈ 0.5).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return S.embedding_near_dup_pairs_bucketed(
        emb, threshold=ND_T, bits=ND_BITS, tables=ND_TABLES, dim=EMB_DIM)


def _near_dup_oracle() -> str:
    d = D.DUCK
    per_table = " UNION ALL ".join(
        f"SELECT vec_id, embedding, {t} AS tbl, "
        f"{S.rp_bucket_sql(d, 'embedding', ND_BITS, f'rpt{t}', dim=EMB_DIM)} AS bucket "
        f"FROM embeddings"
        for t in range(ND_TABLES)
    )
    cos = S.cosine_sql(d, "a.embedding", "b.embedding")
    return f"""
WITH bk AS (
  {per_table}
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
                     AND a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b, {cos} AS cosine
FROM cand c JOIN embeddings a ON a.vec_id = c.id_a
            JOIN embeddings b ON b.vec_id = c.id_b
WHERE {cos} >= {ND_T}
ORDER BY id_a, id_b
"""


register(Query("embedding_near_dup", embedding_near_dup, _near_dup_oracle(),
               tags=("similarity",), bench=True))


# --- IVF ---------------------------------------------------------------------


def ivf_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k through the materialized index: cell assignments and
    norms from storage, centroids from the index sidecar — the measured
    cost is probe + rank, as it would be on a cell-partitioned corpus.
    The probe count defaults from the layout's meta sidecar (r12: the
    autotune regulator is wired to the read path; this index is built
    without target_recall, so the sidecar is NULL and IVF_PROBE is the
    resolved default — ann_tuned_ivf_topk exercises the tuned branch)."""
    corpus, cents = _ann_index(spark, sf_dir)
    path = _ANN_INDEX_PATHS[_ann_index_key(sf_dir)]
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return S.ivf_topk(corpus, queries, k=K,
                      n_centroids=IVF_CENTROIDS,
                      n_probe=S.sidecar_n_probe(spark, path, IVF_PROBE),
                      centroids=cents)


def _ivf_oracle(n_probe: "int | str" = IVF_PROBE,
                extra_ctes: str = "") -> str:
    """IVF probe+rank oracle.  `n_probe` may be an int literal or a SQL
    scalar subquery string (the tuned gate passes '(SELECT np FROM
    tuned)'); `extra_ctes` is spliced after the assign CTE so it can
    reference cent/assign."""
    d = D.DUCK
    dot_ec = S.dot_sql(d, "e.embedding", "c.cv")
    return f"""
WITH cent AS (
  SELECT md5(CAST(vec_id AS VARCHAR)) AS centroid_id, embedding AS cv
  FROM embeddings ORDER BY centroid_id LIMIT {IVF_CENTROIDS}
), assign AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dot_ec} DESC, c.centroid_id DESC) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
){extra_ctes}, qprobe AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT e.vec_id AS query_id, e.embedding AS qv, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dot_ec} DESC, c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE e.vec_id % {QUERY_MOD} = 0
  ) WHERE rn <= {n_probe}
), scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         {S.cosine_sql(d, 'q.qv', 'v.embedding')} AS cosine
  FROM qprobe q JOIN assign v ON v.centroid_id = q.centroid_id
                             AND v.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {K} ORDER BY query_id, rank
"""


register(Query("ivf_topk", ivf_topk_query, _ivf_oracle(),
               tags=("similarity",), bench=True))


def ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-auditing index quality (late r10): recall@k of the IVF probe
    path against the exact ranking, per query — the approximation ERROR
    is itself an oracle-checked quantity, not a trusted claim.  Both
    sides reuse the gate plans verbatim; the oracle composes both gate
    oracles as subqueries, so any drift in either path breaks this gate
    too.  Counts are integers; recall is one int/int division.

    Expected values on THIS fixture: avg recall ≈ 0.37 at n_probe=2/16
    — the synthetic embeddings are isotropic random vectors, whose
    cosine neighborhoods barely cluster into cells (real embedding
    spaces cluster far better, and recall rises with n_probe: the
    quality/price knob this gate makes measurable)."""
    brute = ann_brute_force(spark, sf_dir).select("query_id",
                                                  "neighbor_id")
    ivf = ivf_topk_query(spark, sf_dir).select("query_id", "neighbor_id")
    hits = (brute.join(ivf, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits")))
    return (brute.select("query_id").distinct()
            .join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
                    .alias("n_hits"))
            .withColumn("recall",
                        F.round(F.col("n_hits")
                                / F.lit(K).cast("double"), 6))
            .orderBy("query_id"))


def _ivf_recall_oracle() -> str:
    return f"""
WITH brute AS (
  SELECT query_id, neighbor_id FROM ({ANN_ORACLE.strip()}) t
), ivf AS (
  SELECT query_id, neighbor_id FROM ({_ivf_oracle().strip()}) t
), hits AS (
  SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM brute b JOIN ivf i
    ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
  GROUP BY b.query_id
)
SELECT q.query_id,
       CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
       round(CAST(coalesce(hits.n_hits, 0) AS DOUBLE)
             / CAST({K} AS DOUBLE), 6) AS recall
FROM (SELECT DISTINCT query_id FROM brute) q
LEFT JOIN hits ON q.query_id = hits.query_id
ORDER BY q.query_id
"""


register(Query("ivf_recall_audit", ivf_recall_audit,
               _ivf_recall_oracle(), tags=("similarity",)), extra=True)


# --- autotuned probe count, end to end (r12) --------------------------------
# build_ann_index(target_recall=...) has recorded the picked n_probe in the
# meta sidecar since r11, but every consumer hand-set IVF_PROBE — the
# regulator existed and nothing was wired to it (r11 VERDICT item 3).  This
# gate closes the loop: the index is built WITH a recall target, the query
# path takes its probe count FROM the sidecar (sidecar_n_probe), and the
# oracle replays the probe ranking at that same tuned count — so a wiring
# break (consumer ignoring the sidecar, sidecar recording a wrong pick)
# hash-mismatches instead of silently degrading recall.

TUNE_TARGET = 0.6


def _tuned_index_path(sf_dir: str) -> str:
    import os
    import tempfile

    key = (_ann_index_key(sf_dir)
           + f"_tr{int(TUNE_TARGET * 100)}k{K}")
    return os.path.join(tempfile.gettempdir(), f"rs_ann_tuned_{key}")


def _tuned_ann_index(spark: SparkSession, sf_dir: str):
    path = _tuned_index_path(sf_dir)

    def build(tmp: str) -> None:
        S.build_ann_index(load_table(spark, sf_dir, "embeddings"), tmp,
                          bits=BITS, n_centroids=IVF_CENTROIDS,
                          dim=EMB_DIM, target_recall=TUNE_TARGET,
                          tune_k=K)

    _build_cached_dir(path, build)
    corpus, cents = S.load_ann_index(spark, path)
    return corpus, cents, path


def ann_tuned_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with the probe count the build-time autotune recorded
    for recall >= TUNE_TARGET — no hand-set n_probe anywhere on this
    path."""
    corpus, cents, path = _tuned_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    n_probe = S.sidecar_n_probe(spark, path, IVF_PROBE)
    return S.ivf_topk(corpus, queries, k=K,
                      n_centroids=IVF_CENTROIDS, n_probe=n_probe,
                      centroids=cents)


def _tuned_ivf_oracle() -> str:
    """Fully self-contained (r13): instead of READING the tuned n_probe
    from the meta sidecar (which made the oracle depend on the Spark
    side having built the index first — a crash if the driver resolves
    oracle_sql() before running queries), the oracle RECOMPUTES the
    autotune in SQL, replaying pick_ivf_n_probe exactly
    (operators/similarity.py:1049): an md5-deterministic 64-query
    sample, exact top-{K} per sample query, recall(p) = fraction of
    exact neighbors whose cell sits within the first p probe ranks,
    np = smallest p with recall >= {TUNE_TARGET}.  A sidecar recording
    the wrong pick — or a consumer ignoring the sidecar — now
    hash-mismatches against an INDEPENDENT derivation, which is
    strictly stronger than replaying the recorded value."""
    d = D.DUCK
    cos_te = S.cosine_sql(d, "t.qv", "e.embedding")
    dot_tc = S.dot_sql(d, "t.qv", "c.cv")
    qn = S.norm_sql(d, "t.qv")
    nn = S.norm_sql(d, "e.embedding")
    tune = f""", tq AS (
  SELECT vec_id AS query_id, embedding AS qv
  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64
), tbrute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT t.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY t.query_id
                              ORDER BY {cos_te} DESC, e.vec_id ASC) AS rnk
    FROM tq t JOIN embeddings e ON e.vec_id <> t.query_id
    WHERE {qn} > 0 AND {nn} > 0
  ) WHERE rnk <= {K}
), tporder AS (
  SELECT t.query_id, c.centroid_id,
         row_number() OVER (PARTITION BY t.query_id
                            ORDER BY {dot_tc} DESC, c.centroid_id ASC) AS pr
  FROM tq t CROSS JOIN cent c
), tpr AS (
  SELECT po.pr
  FROM tbrute b
  JOIN assign a ON a.vec_id = b.neighbor_id
  JOIN tporder po ON po.query_id = b.query_id
                 AND po.centroid_id = a.centroid_id
), tuned AS (
  SELECT coalesce(MIN(p), {IVF_CENTROIDS}) AS np FROM (
    SELECT p.p,
           CAST(sum(CASE WHEN t.pr <= p.p THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS recall
    FROM generate_series(1, {IVF_CENTROIDS}) p(p) CROSS JOIN tpr t
    GROUP BY p.p
  ) WHERE recall >= {TUNE_TARGET}
)"""
    return _ivf_oracle(n_probe="(SELECT np FROM tuned)", extra_ctes=tune)


# REGISTRY since round 13 (was EXTRA in r12): the recall-targeted
# n_probe autotune feeds gated consumers from the meta sidecar — a wrong
# sidecar value silently changes which neighbors are exact, an
# oracle-only failure mode.  jsonl_sink_roundtrip moved to EXTRA to make
# room (lowest-risk of the six gated roundtrips).  The oracle is now an
# eager self-contained string (no sidecar read, no build-order coupling
# — safe for a driver that resolves oracle_sql() before running the
# Spark side).
register(Query("ann_tuned_ivf_topk", ann_tuned_ivf_topk,
               _tuned_ivf_oracle(), tags=("similarity",)))


# ---------------------------------------------------------------------------
# ANN scale trio: the same brute/LSH/IVF comparison on a ×SCALE_MULT
# amplified corpus (zipf-pair pattern), where pair-scoring COMPUTE — not
# per-stage scheduling overhead — dominates.  At the 2k-vector fixture all
# three paths are within scheduler noise of each other; here the index
# paths' candidate sets stay small while brute force's pair count grows
# with corpus × queries, so BENCH_r{N}.json shows the crossover the 100 TB
# story rests on.  The corpus is replicated (new ids, same vectors), built
# once per dataset content and indexed on disk via build_ann_index; the
# oracle reproduces the amplification with a range join.

SCALE_MULT = 25
# amplified vec_id % 2500 == 0 ⇔ base vec_id % 100 == 0 AND replica 0:
# 20 queries at sf0.1, 5 at sf0.01
SCALE_QUERY_MOD = SCALE_MULT * 100
# Lloyd iterations baked into the scale index at build time (r6)
IVF_REFINE = 1

_SCALE_PATHS: dict[str, str] = {}
_SCALE_CENTROIDS: dict[str, list] = {}


def _ann_scale_fixture(spark: SparkSession, sf_dir: str) -> "tuple[str, list]":
    import os
    import tempfile

    from .pipeline import _dataset_fingerprint

    key = (sf_dir.strip("/").replace("/", "_") + "_"
           + _dataset_fingerprint(sf_dir, "embeddings")
           + f"_x{SCALE_MULT}b{BITS}c{IVF_CENTROIDS}r{IVF_REFINE}q1w")
    base = _SCALE_PATHS.get(key)
    if base is None:
        base = os.path.join(tempfile.gettempdir(), f"rs_ann_scale_{key}")

        def build(tmp: str) -> None:
            emb = load_table(spark, sf_dir, "embeddings")
            amp = (emb.withColumn(
                "r", F.explode(F.sequence(F.lit(0), F.lit(SCALE_MULT - 1))))
                .select((F.col("vec_id") * SCALE_MULT + F.col("r"))
                        .alias("vec_id"), "embedding"))
            amp_path = os.path.join(tmp, "amplified")
            # write SPREAD (r14, guide §6): a single ~13 MB file made
            # every scale query's scan one task — the brute path paid a
            # 1.5 s single-task read + sort-before-repartition + 12.7 MB
            # reshuffle before any scoring started (fan_out exchange),
            # and the indexed paths a serial probe scan.  Written wide,
            # fan_out is a no-op and the exchange disappears from all
            # five readers.  (Key above carries a layout tag so stale
            # one-file fixture dirs are not reused.)
            amp = amp.repartition(spark.sparkContext.defaultParallelism)
            amp.write.mode("overwrite").parquet(amp_path)
            # refine_iterations: the offline-Lloyd story proven in the
            # GATED path — centroids refined once at index-build time, in
            # deterministic mode so the DuckDB oracle reproduces the
            # refined values bit-exactly (sequential id-sorted mean fold,
            # the dot_sql cross-engine trick)
            # quantize=True: the SQ8 code columns ride the same layout so
            # the quantized scale path (ann_scale_qivf_topk) measures the
            # codes-off-storage configuration; the fp paths prune them
            S.build_ann_index(spark.read.parquet(amp_path),
                              os.path.join(tmp, "index"), bits=BITS,
                              n_centroids=IVF_CENTROIDS, dim=EMB_DIM,
                              refine_iterations=IVF_REFINE,
                              refine_deterministic=True, quantize=True)

        _build_cached_dir(base, build)
        _SCALE_PATHS[key] = base
    if key not in _SCALE_CENTROIDS:
        _, cents = S.load_ann_index(spark, os.path.join(base, "index"))
        _SCALE_CENTROIDS[key] = cents
    return base, _SCALE_CENTROIDS[key]


def _scale_queries(spark: SparkSession, base: str) -> DataFrame:
    import os
    raw = spark.read.parquet(os.path.join(base, "amplified"))
    return raw.filter(F.col("vec_id") % SCALE_QUERY_MOD == 0)


def ann_scale_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ground truth at scale: full scan, corpus × queries pair scoring."""
    import os
    base, _ = _ann_scale_fixture(spark, sf_dir)
    raw = spark.read.parquet(os.path.join(base, "amplified"))
    return S.brute_force_topk(raw, _scale_queries(spark, base), k=K)


def ann_scale_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH through the materialized index: per query, only its bucket's
    candidates are scored — work tracks bucket size, not corpus size."""
    import os
    base, _ = _ann_scale_fixture(spark, sf_dir)
    corpus, _ = S.load_ann_index(spark, os.path.join(base, "index"),
                                 with_centroids=False)
    return S.lsh_topk(corpus, _scale_queries(spark, base), k=K, bits=BITS,
                      multi_probe=0, dim=None)


def ann_scale_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF through the materialized index: n_probe cells per query."""
    import os
    base, cents = _ann_scale_fixture(spark, sf_dir)
    idx = os.path.join(base, "index")
    corpus, _ = S.load_ann_index(spark, idx, with_centroids=False)
    return S.ivf_topk(corpus, _scale_queries(spark, base), k=K,
                      n_centroids=IVF_CENTROIDS,
                      n_probe=S.sidecar_n_probe(spark, idx, IVF_PROBE),
                      centroids=cents)


_AMP_CTE = f"""
amp AS (
  SELECT e.vec_id * {SCALE_MULT} + t.r AS vec_id, e.embedding
  FROM embeddings e, range(0, {SCALE_MULT}) t(r)
), q AS (
  SELECT vec_id AS query_id, embedding AS qv
  FROM amp WHERE vec_id % {SCALE_QUERY_MOD} = 0
)"""

ANN_SCALE_BRUTE_ORACLE = f"""
WITH {_AMP_CTE}, scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {S.cosine_sql(D.DUCK, 'q.qv', 'e.embedding')} AS cosine
  FROM q JOIN amp e ON e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {K} ORDER BY query_id, rank
"""

ANN_SCALE_LSH_ORACLE = f"""
WITH {_AMP_CTE}, bk AS (
  SELECT vec_id, embedding,
         {S.rp_bucket_sql(D.DUCK, 'embedding', BITS, dim=EMB_DIM)} AS bucket
  FROM amp
), scored AS (
  SELECT b.vec_id AS query_id, v.vec_id AS neighbor_id,
         {S.cosine_sql(D.DUCK, 'b.embedding', 'v.embedding')} AS cosine
  FROM bk b JOIN bk v ON v.bucket = b.bucket AND v.vec_id <> b.vec_id
  WHERE b.vec_id % {SCALE_QUERY_MOD} = 0
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {K} ORDER BY query_id, rank
"""


def _scale_cent_cte() -> str:
    """The refined-centroid CTE chain (cent0 → one deterministic Lloyd
    iteration → cent), shared by the fp and quantized scale-IVF oracles:
    per-(cell, dim) mean as a SEQUENTIAL fold over vec_id-ordered values
    (list_sum of an ORDER BY list ≡ Spark's aggregate() fold over an
    array_sort'ed collect_list — the same cross-engine-exact summation
    dot_sql relies on), empty cells keep their cent0 vector."""
    d = D.DUCK
    dot_ec = S.dot_sql(d, "e.embedding", "c.cv")
    return f"""cent0 AS (
  SELECT md5(CAST(vec_id AS VARCHAR)) AS centroid_id, embedding AS cv
  FROM amp ORDER BY centroid_id LIMIT {IVF_CENTROIDS}
), assign0 AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dot_ec} DESC, c.centroid_id DESC) AS rn
    FROM amp e CROSS JOIN cent0 c
  ) WHERE rn = 1
), mean1 AS (
  SELECT centroid_id, t.pos,
         list_sum(list(CAST(embedding[t.pos] AS DOUBLE) ORDER BY vec_id))
           / CAST(count(*) AS DOUBLE) AS m
  FROM assign0, range(1, {EMB_DIM} + 1) t(pos)
  GROUP BY centroid_id, t.pos
), cent AS (
  SELECT c0.centroid_id,
         coalesce(m.cv, CAST(c0.cv AS DOUBLE[])) AS cv
  FROM cent0 c0 LEFT JOIN (
    SELECT centroid_id, list(m ORDER BY pos) AS cv FROM mean1
    GROUP BY centroid_id
  ) m USING (centroid_id)
)"""


def _ann_scale_ivf_oracle() -> str:
    d = D.DUCK
    dot_ec = S.dot_sql(d, "e.embedding", "c.cv")
    return f"""
WITH {_AMP_CTE}, {_scale_cent_cte()}, assign AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dot_ec} DESC, c.centroid_id DESC) AS rn
    FROM amp e CROSS JOIN cent c
  ) WHERE rn = 1
), qprobe AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT e.vec_id AS query_id, e.embedding AS qv, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dot_ec} DESC, c.centroid_id ASC) AS rn
    FROM amp e CROSS JOIN cent c
    WHERE e.vec_id % {SCALE_QUERY_MOD} = 0
  ) WHERE rn <= {IVF_PROBE}
), scored AS (
  SELECT p.query_id, v.vec_id AS neighbor_id,
         {S.cosine_sql(d, 'p.qv', 'v.embedding')} AS cosine
  FROM qprobe p JOIN assign v ON v.centroid_id = p.centroid_id
                             AND v.vec_id <> p.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {K} ORDER BY query_id, rank
"""


def ann_scale_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow/numpy scan path on the same amplified corpus: per-batch
    BLAS matmul + partition-local top-k, merged by one per-query window.
    Same oracle as the SQL fold path — identical output, ~2.7× faster at
    50k vectors (the gap widens with N·Q; see SCALE.md)."""
    import os
    base, _ = _ann_scale_fixture(spark, sf_dir)
    raw = spark.read.parquet(os.path.join(base, "amplified"))
    return S.brute_force_topk_arrow(raw, _scale_queries(spark, base), k=K)


register(Query("ann_scale_brute_topk", ann_scale_brute,
               ANN_SCALE_BRUTE_ORACLE,
               tags=("similarity", "bench"), bench=True), extra=True)
register(Query("ann_scale_arrow_topk", ann_scale_arrow,
               ANN_SCALE_BRUTE_ORACLE,
               tags=("similarity", "bench"), bench=True), extra=True)
register(Query("ann_scale_lsh_topk", ann_scale_lsh, ANN_SCALE_LSH_ORACLE,
               tags=("similarity", "bench"), bench=True), extra=True)
register(Query("ann_scale_ivf_topk", ann_scale_ivf, _ann_scale_ivf_oracle(),
               tags=("similarity", "bench"), bench=True), extra=True)


# bench.py pre-builds these OUTSIDE its timing loop: a cache-key change
# (new bits/centroids/refine parameters) then costs one build before
# measurement instead of inflating a recorded iteration (BENCH_r06's
# ann_scale rows read 2x their true cost for exactly this reason).
from . import register_fixture_preparer  # noqa: E402


@register_fixture_preparer
def _prepare_ann_fixtures(spark: SparkSession, sf_dir: str) -> None:
    _ann_index(spark, sf_dir)
    _ann_scale_fixture(spark, sf_dir)


# --- semantic incremental admit against the ANN index (round 8) --------------
# The embedding sibling of incremental_index_dedup: corpus slice indexed
# once (build_ann_index storage layout), the arriving batch probes the
# stored buckets (multi-probe Hamming <= 1) and verifies exact cosine off
# the stored norm.  Batch includes copies of 10 indexed vectors under
# shifted ids (cos 1.0, Hamming 0 — always flagged), so the gate has
# deterministic content at every scale factor; threshold matches the
# fixture's natural cosine range so cross-slice near-neighbors flag too.

EADM_MOD, EADM_SHIFT, EADM_T = 5, 1_000_000, 0.45
# (bits, multi_probe) via the hyperplane collision-probability picker (r9)
# instead of hand-set values: among configs reaching 0.8 recall for pairs
# at cosine 0.9, the minimum-candidate-rate one for orthogonal pairs.
# The picker's model is plan-time pure math, so the oracle reproduces the
# exact same bucket/probe rule from the same constants.
EADM_TARGET_COS, EADM_TARGET_RECALL = 0.9, 0.8
EADM_BITS, EADM_PROBE = S.pick_rp_params(EADM_TARGET_COS,
                                         EADM_TARGET_RECALL)

_EADM_PATHS: dict[str, str] = {}


def _ann_admit_index(spark: SparkSession, sf_dir: str) -> str:
    import os
    import tempfile

    from .pipeline import _dataset_fingerprint

    key = (sf_dir.strip("/").replace("/", "_") + "_"
           + _dataset_fingerprint(sf_dir, "embeddings")
           + f"_b{EADM_BITS}adm{EADM_MOD}")
    path = _EADM_PATHS.get(key)
    if path is None:
        path = os.path.join(tempfile.gettempdir(), f"rs_ann_adm_{key}")

        def build(tmp: str) -> None:
            corpus = (load_table(spark, sf_dir, "embeddings")
                      .filter(F.col("vec_id") % EADM_MOD != 0))
            S.build_ann_index(corpus, tmp, bits=EADM_BITS,
                              n_centroids=IVF_CENTROIDS, dim=EMB_DIM)

        _build_cached_dir(path, build)
        _EADM_PATHS[key] = path
    return path


def _eadm_batch(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    return (emb.filter(F.col("vec_id") % EADM_MOD == 0)
            .select("vec_id", "embedding")
            .unionByName(
                emb.filter((F.col("vec_id") % EADM_MOD == 1)
                           & (F.col("vec_id") < 50))
                .select((F.col("vec_id") + EADM_SHIFT).alias("vec_id"),
                        "embedding")))


def embedding_index_admit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagged (batch vector, indexed corpus vector, cosine) pairs from
    the semantic admit tier (operators/similarity.py
    embedding_index_flagged_pairs); the oracle recomputes buckets, the
    Hamming<=1 probe rule and cosine from the raw table."""
    path = _ann_admit_index(spark, sf_dir)
    return S.embedding_index_flagged_pairs(
        _eadm_batch(spark, sf_dir), path, threshold=EADM_T,
        multi_probe=EADM_PROBE)


def _eadm_oracle() -> str:
    d = D.DUCK
    bucket = S.rp_bucket_sql(d, "embedding", EADM_BITS, "rp", dim=EMB_DIM)
    probes = ", ".join(S.probe_bucket_exprs(d, "bucket", EADM_BITS,
                                            EADM_PROBE))
    cos = S.cosine_sql(d, "qe", "ce")
    return f"""
WITH corp AS (
  SELECT vec_id AS id_corpus, embedding, {bucket} AS bucket
  FROM embeddings WHERE vec_id % {EADM_MOD} <> 0
), batch AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % {EADM_MOD} = 0
  UNION ALL
  SELECT vec_id + {EADM_SHIFT}, embedding FROM embeddings
  WHERE vec_id % {EADM_MOD} = 1 AND vec_id < 50
), bb AS (
  SELECT vec_id AS id_new, embedding, {bucket} AS bucket FROM batch
), probes AS (
  SELECT id_new, embedding, unnest([{probes}]) AS bucket FROM bb
), cand AS (
  SELECT p.id_new, c.id_corpus, p.embedding AS qe, c.embedding AS ce
  FROM probes p JOIN corp c USING (bucket)
)
SELECT id_new, id_corpus, {cos} AS cosine
FROM cand WHERE {cos} >= {EADM_T}
ORDER BY id_new, id_corpus
"""


# driver-visible since round 8 (took a multimodal sibling's slot): the
# semantic third of the incremental-ingest modality trio
# bench=True: the semantic sibling of incremental_index_dedup's headline —
# batch probes the stored layout, corpus never re-hashed
register(Query("embedding_index_admit", embedding_index_admit_pairs,
               _eadm_oracle(), tags=("similarity", "index", "dedup"),
               bench=True))


@register_fixture_preparer
def _prepare_ann_admit_index(spark: SparkSession, sf_dir: str) -> None:
    _ann_admit_index(spark, sf_dir)


# --- int8-quantized candidate scan + exact re-rank (round 9) -----------------
# the ANN storage/bandwidth lever (operators/quantize.py): candidates are
# scored on int8 codes (integer dot × two scales over stored norms), the
# top k·QEXPAND re-ranked exactly — reported cosines are bit-equal to the
# exact ivf_topk gate's, only candidate CHOICE is approximate.

QEXPAND = 4


def quantized_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 through the materialized index: cells + norms from storage,
    codes computed in the candidate projection (persist them via
    quantize_vectors for the column-pruned layout), exact re-rank."""
    from ..operators.quantize import ivf_topk_quantized

    corpus, cents = _ann_index(spark, sf_dir)
    path = _ANN_INDEX_PATHS[_ann_index_key(sf_dir)]
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return ivf_topk_quantized(corpus, queries, cents, k=K,
                              n_probe=S.sidecar_n_probe(spark, path,
                                                        IVF_PROBE),
                              expand=QEXPAND)


def _quantized_ivf_oracle() -> str:
    from ..operators.quantize import int_dot_sql, qscale_sql, quantize_sql

    d = D.DUCK
    dot_ec = S.dot_sql(d, "e.embedding", "c.cv")
    return f"""
WITH cent AS (
  SELECT md5(CAST(vec_id AS VARCHAR)) AS centroid_id, embedding AS cv
  FROM embeddings ORDER BY centroid_id LIMIT {IVF_CENTROIDS}
), s AS (
  SELECT vec_id, embedding,
         {qscale_sql(d, 'embedding')} AS qscale,
         {S.norm_sql(d, 'embedding')} AS nrm
  FROM embeddings
), vq AS (
  SELECT vec_id, embedding, qscale, nrm,
         {quantize_sql(d, 'embedding', 'qscale')} AS q
  FROM s
), assign AS (
  SELECT vec_id, q, qscale, nrm, centroid_id FROM (
    SELECT e.vec_id, e.q, e.qscale, e.nrm, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dot_ec} DESC, c.centroid_id DESC) AS rn
    FROM vq e CROSS JOIN cent c
  ) WHERE rn = 1 AND nrm > 0
), qprobe AS (
  SELECT query_id, qv, qq, qs, qn, centroid_id FROM (
    SELECT e.vec_id AS query_id, e.embedding AS qv, e.q AS qq,
           e.qscale AS qs, e.nrm AS qn, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dot_ec} DESC, c.centroid_id ASC) AS rn
    FROM vq e CROSS JOIN cent c
    WHERE e.vec_id % {QUERY_MOD} = 0 AND e.nrm > 0
  ) WHERE rn <= {IVF_PROBE}
), approx AS (
  SELECT p.query_id, v.vec_id AS neighbor_id, p.qv, p.qn, v.nrm AS nn,
         p.qs * v.qscale * CAST({int_dot_sql(d, 'p.qq', 'v.q')}
           AS DOUBLE) / (p.qn * v.nrm) AS approx
  FROM qprobe p JOIN assign v ON v.centroid_id = p.centroid_id
                             AND v.vec_id <> p.query_id
), cand AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY approx DESC, neighbor_id ASC) AS arn
  FROM approx
), resc AS (
  SELECT c.query_id, c.neighbor_id,
         round({S.dot_sql(d, 'c.qv', 'e.embedding')} / (c.qn * c.nn), 6)
           AS cosine
  FROM cand c JOIN embeddings e ON e.vec_id = c.neighbor_id
  WHERE c.arn <= {K * QEXPAND}
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM resc
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {K} ORDER BY query_id, rank
"""


# driver-visible since round 10 (took revenue_rollup's slot): the
# quantization family's composition point — cells bound WHICH rows,
# int8 codes bound BYTES per row, exact re-rank — now driver-gated
register(Query("quantized_ivf_topk", quantized_ivf, _quantized_ivf_oracle(),
               tags=("similarity", "quantize")))


def ann_scale_qivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 at scale through the materialized quantized layout: the
    candidate scan reads int8 codes off storage (column-pruned), cells
    bound which rows are touched, exact re-rank of the top k·QEXPAND."""
    import os

    from ..operators.quantize import ivf_topk_quantized

    base, cents = _ann_scale_fixture(spark, sf_dir)
    idx = os.path.join(base, "index")
    corpus, _ = S.load_ann_index(spark, idx, with_centroids=False)
    return ivf_topk_quantized(corpus, _scale_queries(spark, base), cents,
                              k=K,
                              n_probe=S.sidecar_n_probe(spark, idx,
                                                        IVF_PROBE),
                              expand=QEXPAND)


def _ann_scale_qivf_oracle() -> str:
    from ..operators.quantize import int_dot_sql, qscale_sql, quantize_sql

    d = D.DUCK
    dot_ec = S.dot_sql(d, "e.embedding", "c.cv")
    return f"""
WITH {_AMP_CTE}, {_scale_cent_cte()}, sq AS (
  SELECT vec_id, embedding,
         {qscale_sql(d, 'embedding')} AS qscale,
         {S.norm_sql(d, 'embedding')} AS nrm
  FROM amp
), vq AS (
  SELECT vec_id, embedding, qscale, nrm,
         {quantize_sql(d, 'embedding', 'qscale')} AS qc
  FROM sq
), assign AS (
  SELECT vec_id, qc, qscale, nrm, centroid_id FROM (
    SELECT e.vec_id, e.qc, e.qscale, e.nrm, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dot_ec} DESC, c.centroid_id DESC) AS rn
    FROM vq e CROSS JOIN cent c
  ) WHERE rn = 1 AND nrm > 0
), qprobe AS (
  SELECT query_id, qv, qq, qs, qn, centroid_id FROM (
    SELECT e.vec_id AS query_id, e.embedding AS qv, e.qc AS qq,
           e.qscale AS qs, e.nrm AS qn, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dot_ec} DESC, c.centroid_id ASC) AS rn
    FROM vq e CROSS JOIN cent c
    WHERE e.vec_id % {SCALE_QUERY_MOD} = 0 AND e.nrm > 0
  ) WHERE rn <= {IVF_PROBE}
), approx AS (
  SELECT p.query_id, v.vec_id AS neighbor_id, p.qv, p.qn, v.nrm AS nn,
         p.qs * v.qscale * CAST({int_dot_sql(d, 'p.qq', 'v.qc')}
           AS DOUBLE) / (p.qn * v.nrm) AS approx
  FROM qprobe p JOIN assign v ON v.centroid_id = p.centroid_id
                             AND v.vec_id <> p.query_id
), cand AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY approx DESC, neighbor_id ASC) AS arn
  FROM approx
), resc AS (
  SELECT c.query_id, c.neighbor_id,
         round({S.dot_sql(d, 'c.qv', 'e.embedding')} / (c.qn * c.nn), 6)
           AS cosine
  FROM cand c JOIN amp e ON e.vec_id = c.neighbor_id
  WHERE c.arn <= {K * QEXPAND}
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM resc
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {K} ORDER BY query_id, rank
"""


register(Query("ann_scale_qivf_topk", ann_scale_qivf,
               _ann_scale_qivf_oracle(),
               tags=("similarity", "bench", "quantize"), bench=True),
         extra=True)
