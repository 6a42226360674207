"""Engine-level tests for dedup + similarity operators: recall properties and
structural invariants that the oracle gate can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from replibyte_spark.catalog import load_table
from replibyte_spark.operators import dedup as DD
from replibyte_spark.operators import similarity as S


def test_minhash_finds_planted_near_dups(spark, sf_dir):
    """The fixture corpus has planted pairs with jaccard ≥ 0.9; banded
    MinHash at (12 hashes, 4 bands) must recall essentially all of them."""
    docs = load_table(spark, sf_dir, "documents")
    truth = {(r.id_a, r.id_b) for r in
             DD.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.9).collect()}
    found = {(r.id_a, r.id_b) for r in
             DD.minhash_near_dup_pairs(docs, "doc_id", "text", threshold=0.9).collect()}
    assert truth, "fixture should contain planted near-dups"
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"recall {recall}: missed {truth - found}"


def test_minhash_no_false_positives_after_verification(spark, sf_dir):
    """Verified-jaccard output must be a subset of exact jaccard output."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {(r.id_a, r.id_b) for r in
             DD.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           DD.minhash_near_dup_pairs(docs, "doc_id", "text", threshold=0.8).collect()}
    assert lsh <= exact


def test_simhash_near_dups_have_similar_text(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = DD.simhash_near_dup_pairs(docs, "doc_id", "text").collect()
    # near-dup docs by jaccard should mostly collide in simhash space too
    truth = DD.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.95).collect()
    sim_pairs = {(r.id_a, r.id_b) for r in pairs}
    hits = sum((r.id_a, r.id_b) in sim_pairs for r in truth)
    assert truth and hits / len(truth) >= 0.5


def test_exact_dedup_first_wins(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "a", 3), (2, "b", 7)], "k long, g string, id long")
    out = DD.exact_dedup(df, ["k", "g"], "id").orderBy("k").collect()
    assert [(r.k, r.g, r.id) for r in out] == [(1, "a", 3), (2, "b", 7)]


def test_lsh_topk_recall_on_clustered_data(spark):
    """On clustered vectors (the real-world embedding shape) bucketed ANN
    with 1-bit multi-probe must recover the true top-1 for most queries.
    The fixture embeddings are near-uniform random (max cosine ≈ 0.5), where
    no single-probe LSH can recall — so the property is tested on data with
    actual cluster structure."""
    import random

    rng = random.Random(7)
    centers = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(8)]
    rows = []
    for i in range(400):
        c = centers[i % 8]
        rows.append((i, [x + rng.uniform(-0.05, 0.05) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") < 40)
    bf = {r.query_id: r.neighbor_id
          for r in S.brute_force_topk(df, queries, k=1).collect()}
    lsh = {r.query_id: r.neighbor_id
           for r in S.lsh_topk(df, queries, k=1, bits=6, multi_probe=1).collect()}
    agree = sum(lsh.get(q) == n for q, n in bf.items())
    assert agree / len(bf) >= 0.7, f"top-1 agreement {agree}/{len(bf)}"


def test_lsh_buckets_are_deterministic(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    a = {r.vec_id: r.bucket for r in S.rp_lsh_buckets(emb, bits=8).collect()}
    b = {r.vec_id: r.bucket for r in S.rp_lsh_buckets(emb, bits=8).collect()}
    assert a == b and all(len(v) == 8 and set(v) <= {"0", "1"} for v in a.values())


def test_ivf_topk_recall_on_clustered_data(spark):
    """IVF with 2-cell probing recovers most true top-1 neighbors on
    clustered vectors (same corpus construction as the LSH recall test)."""
    import random

    rng = random.Random(11)
    centers = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(8)]
    rows = [(i, [x + rng.uniform(-0.05, 0.05) for x in centers[i % 8]])
            for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") < 40)
    bf = {r.query_id: r.neighbor_id
          for r in S.brute_force_topk(df, queries, k=1).collect()}
    ivf = {r.query_id: r.neighbor_id
           for r in S.ivf_topk(df, queries, k=1, n_centroids=16, n_probe=2).collect()}
    agree = sum(ivf.get(q) == n for q, n in bf.items())
    assert agree / len(bf) >= 0.7, f"top-1 agreement {agree}/{len(bf)}"


def test_ivf_assignment_covers_corpus(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = S.ivf_assign(emb, n_centroids=8)
    assert assigned.count() == emb.count()
    n_cells = assigned.select("centroid_id").distinct().count()
    assert 1 < n_cells <= 8


def test_cosine_is_exact(spark):
    df = spark.createDataFrame([(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]),
                                (3, [1.0, 1.0, 0.0])],
                               "vec_id long, embedding array<float>")
    out = {(r.query_id, r.neighbor_id): r.cosine
           for r in S.brute_force_topk(df, df.filter("vec_id = 1"), k=2).collect()}
    assert out[(1, 3)] == 0.707107  # 1/sqrt(2) rounded to 6
    assert out[(1, 2)] == 0.0


def test_simhash_pigeonhole_blocking_is_complete(spark):
    """A near-dup pair whose differing bits all sit in the first 8 signature
    bits (the old prefix-blocking blind spot) must still be found, and a
    pair beyond max_hamming must not."""
    sigs = spark.createDataFrame(
        [(1, "0111111111111111"),   # 1 bit off vs id=2, inside the prefix
         (2, "1111111111111111"),
         (3, "0011111111111111"),   # 2 bits off vs id=2, both in the prefix
         (4, "0001011111111111")],  # 4 bits off vs id=2 -> excluded
        "doc_id long, simhash string")
    out = DD.simhash_pairs_from_signatures(sigs, "doc_id",
                                           bits=16, max_hamming=2).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in out}
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 2, (3, 4): 2}


def test_simhash_block_bounds_cover_signature():
    bounds = DD.simhash_block_bounds(16, 2)
    assert sum(ln for _s, ln in bounds) == 16
    assert bounds[0][0] == 1
    for (s0, l0), (s1, _l1) in zip(bounds, bounds[1:]):
        assert s1 == s0 + l0


def test_bucketed_near_dup_subset_and_recall(spark):
    """Bucketed near-dup must be a subset of the exact quadratic output
    (same cosine values) and recall near-all truly-close pairs on clustered
    data (cosine >= 0.9: bits=4 x tables=8 -> ~0.998 expected recall)."""
    import random

    rng = random.Random(13)
    centers = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(20)]
    rows = [(i, [x + rng.uniform(-0.03, 0.03) for x in centers[i % 20]])
            for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r.id_a, r.id_b): r.cosine
             for r in S.embedding_near_dup_pairs(df, threshold=0.9).collect()}
    bucketed = {(r.id_a, r.id_b): r.cosine
                for r in S.embedding_near_dup_pairs_bucketed(
                    df, threshold=0.9, bits=4, tables=8).collect()}
    assert set(bucketed) <= set(exact)
    assert all(exact[p] == c for p, c in bucketed.items())
    assert exact, "clustered corpus must contain close pairs"
    recall = len(bucketed) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f} ({len(bucketed)}/{len(exact)})"


def test_ivf_plan_has_no_global_window(spark, sf_dir):
    """Centroid selection must compile to a per-partition top-k
    (TakeOrderedAndProject), not a single-partition Window — checked on
    default_centroids itself since round 5, when the selected set became
    driver-inlined literals.  The search plan must then be free of BOTH a
    single-partition Window AND any crossJoin row amplification: corpus
    assignment is an argmax projection riding the scan."""
    import re

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    cent_plan = (S.default_centroids(emb, 16)
                 ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in cent_plan
    assert not re.search(r"Window .*SinglePartition", cent_plan)
    plan = (S.ivf_topk(emb, queries, k=3)
            ._jdf.queryExecution().executedPlan().toString())
    assert not re.search(r"Window .*SinglePartition", plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_materialized_ann_index_roundtrip(spark, sf_dir, tmp_path):
    """build_ann_index → load_ann_index must (a) round-trip the centroid
    sidecar exactly, (b) expose the precomputed bucket/cell/norm columns,
    and (c) make lsh_topk/ivf_topk over the INDEXED corpus return exactly
    the from-raw results — the skip-recompute path cannot drift."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    path = str(tmp_path / "annidx")
    cents = S.build_ann_index(emb, path, bits=6, n_centroids=8, dim=64)
    corpus, cents2 = S.load_ann_index(spark, path)
    assert cents == cents2
    assert {"bucket", "centroid_id", "norm"} <= set(corpus.columns)

    raw = sorted(map(tuple, S.lsh_topk(emb, queries, k=3, bits=6,
                                       dim=64).collect()))
    idx = sorted(map(tuple, S.lsh_topk(corpus, queries, k=3, bits=6,
                                       dim=64).collect()))
    assert raw == idx and raw

    raw = sorted(map(tuple, S.ivf_topk(emb, queries, k=3,
                                       n_centroids=8).collect()))
    idx = sorted(map(tuple, S.ivf_topk(corpus, queries, k=3, n_centroids=8,
                                       centroids=cents2).collect()))
    assert raw == idx and raw


def test_brute_force_arrow_matches_sql_path(spark, sf_dir):
    """brute_force_topk_arrow (numpy matmul, partition-local top-k) must
    return exactly the SQL fold path's output — cosine to 6 decimals,
    identical ranks and tie-breaks — including when a partition holds
    fewer than k candidates."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    a = sorted(map(tuple, S.brute_force_topk(emb, queries, k=5).collect()))
    b = sorted(map(tuple,
                   S.brute_force_topk_arrow(emb, queries, k=5).collect()))
    assert a == b and a
    # k larger than any single partition's rows: partial top-k still exact
    small = emb.limit(7).repartition(4)
    qs = small.limit(2)
    a = sorted(map(tuple, S.brute_force_topk(small, qs, k=6).collect()))
    b = sorted(map(tuple, S.brute_force_topk_arrow(small, qs,
                                                   k=6).collect()))
    assert a == b


def test_ann_index_partitioned_layout_preserves_bucket_strings(spark, sf_dir,
                                                               tmp_path):
    """partition_by_bucket=True must not corrupt the bucket column:
    partitioning on the raw all-digit bucket string would round-trip
    through Spark's partition-type inference as an INTEGER with leading
    zeros stripped ('001100' → 1100).  The layout partitions on a 'b'-
    prefixed derived column instead, and query results over the
    partitioned index must equal the unpartitioned ones."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    flat, part = str(tmp_path / "flat"), str(tmp_path / "part")
    S.build_ann_index(emb, flat, bits=6, n_centroids=8, dim=64)
    S.build_ann_index(emb, part, bits=6, n_centroids=8, dim=64,
                      partition_by_bucket=True)
    corpus_p, _ = S.load_ann_index(spark, part, with_centroids=False)
    assert dict(corpus_p.dtypes)["bucket"] == "string"
    assert corpus_p.filter(F.length("bucket") != 6).count() == 0
    corpus_f, _ = S.load_ann_index(spark, flat, with_centroids=False)
    a = sorted(map(tuple, S.lsh_topk(corpus_f, queries, k=3, bits=6,
                                     dim=64).collect()))
    b = sorted(map(tuple, S.lsh_topk(corpus_p, queries, k=3, bits=6,
                                     dim=64).collect()))
    assert a == b and a


def test_indexed_corpus_parameter_mismatch_fails_loudly(spark, sf_dir,
                                                        tmp_path):
    """Querying an index with the wrong bits (or foreign centroids) must
    RAISE, not return silently empty results — the bucket widths / cell
    ids simply would not join."""
    import pytest as _pt

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    path = str(tmp_path / "idx")
    cents = S.build_ann_index(emb, path, bits=6, n_centroids=8, dim=64)
    corpus, _ = S.load_ann_index(spark, path, with_centroids=False)
    # loaded-index corpus: the meta sidecar rides the bucket column, so a
    # wrong-bits query is rejected at PLAN TIME on the driver
    with _pt.raises(ValueError, match="built with bits=6"):
        S.lsh_topk(corpus, queries, k=3, bits=8, dim=64)
    foreign = [("not-a-real-centroid-id", cv) for _, cv in cents]
    with _pt.raises(Exception, match="centroid"):
        S.ivf_topk(corpus, queries, k=3, centroids=foreign).collect()
    # caller-assembled bucket column (no index metadata): the runtime
    # width assert is the backstop
    bare = S.rp_lsh_buckets(emb, bits=6, dim=64)
    with _pt.raises(Exception, match="bucket width"):
        S.lsh_topk(bare, queries, k=3, bits=8, dim=64).collect()


def test_indexed_corpus_seed_mismatch_fails_loudly(spark, sf_dir, tmp_path):
    """Same bucket WIDTH, different hyperplane SEED: before round 6 this
    passed the width guard and silently returned wrong neighbors; the
    meta-sidecar metadata stamped by load_ann_index must make it raise."""
    import pytest as _pt

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    path = str(tmp_path / "idx_seed")
    S.build_ann_index(emb, path, bits=6, seed="otherseed", n_centroids=4,
                      dim=64)
    corpus, _ = S.load_ann_index(spark, path, with_centroids=False)
    with _pt.raises(ValueError, match="seed"):
        S.lsh_topk(corpus, queries, k=3, bits=6, dim=64)  # default seed 'rp'
    # matching parameters still work
    ok = S.lsh_topk(corpus, queries, k=3, bits=6, seed="otherseed", dim=64)
    assert ok.count() >= 0
    meta = S.load_ann_index_meta(spark, path)
    assert (meta["bits"], meta["seed"]) == (6, "otherseed")


def test_bucketed_near_dup_plan_has_no_cross_join(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    plan = (S.embedding_near_dup_pairs_bucketed(emb, threshold=0.45)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_near_dup_clusters_chain_and_islands(spark):
    """Label propagation must close transitive chains (1-2-3-11) and keep
    disjoint components apart; keep_canonical keeps exactly the min-id doc
    per cluster plus all unpaired docs."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (3, 11)],
        "id_a long, id_b long")
    labels = {r.node: r.cluster_id
              for r in DD.near_dup_clusters(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 11: 1, 5: 5, 6: 5, 8: 8, 9: 8, 10: 8}

    docs = spark.createDataFrame([(i, f"d{i}") for i in range(1, 13)],
                                 "doc_id long, text string")
    kept = sorted(r.doc_id for r in
                  DD.keep_canonical(docs, pairs, "doc_id").collect())
    assert kept == [1, 4, 5, 7, 8, 12]


def test_near_dup_clusters_distributed_path_matches_union_find(
        spark, monkeypatch):
    """near_dup_clusters is hybrid: driver union-find for driver-sized pair
    lists, min-label propagation above the threshold.  Force the
    distributed path (threshold → -1) and assert both paths produce
    identical min-id labels — the distributed branch must not rot now that
    small graphs never reach it."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (3, 11), (20, 21),
         (21, 22), (22, 23), (23, 24)],           # a deeper chain too
        "id_a long, id_b long")
    fast = {r.node: r.cluster_id
            for r in DD.near_dup_clusters(pairs).collect()}
    monkeypatch.setattr(DD, "DRIVER_CC_MAX_PAIRS", -1)
    slow = {r.node: r.cluster_id
            for r in DD.near_dup_clusters(pairs).collect()}
    assert fast == slow
    assert slow[24] == 20 and slow[11] == 1


def test_near_dup_clusters_distributed_branch_above_threshold(spark):
    """Force the distributed star_components branch THROUGH the product
    path — a pair count just above DRIVER_CC_MAX_PAIRS, no monkeypatching
    — on a multi-component, diameter-5 graph (40,001 disjoint 6-node
    chains).  Locks (a) label equality with union-find, (b) bounded round
    count: max_iterations=7 must suffice (large-star/small-star needs
    ~log2(diameter) rounds plus the fingerprint-repeat round; exhausting
    the cap raises instead of returning corrupt labels)."""
    n_comp = DD.DRIVER_CC_MAX_PAIRS // 5 + 1          # 5 edges per chain
    edges = (spark.range(n_comp)
             .selectExpr("id as c", "explode(sequence(0, 4)) as j")
             .selectExpr("c * 8 + j as id_a", "c * 8 + j + 1 as id_b"))
    n_pairs = edges.count()
    assert n_pairs > DD.DRIVER_CC_MAX_PAIRS           # distributed branch

    labels = DD.near_dup_clusters(edges, max_iterations=7)
    # closed form: every chain's min node is its component's base (c*8) —
    # exactly what union-find computes for these edge lists
    wrong = labels.filter(
        F.col("cluster_id") != F.col("node") - F.col("node") % 8).count()
    assert wrong == 0
    assert labels.count() == n_comp * 6

    # spot-check literal union-find equality on a driver-sized slice
    sample = [(r.id_a, r.id_b) for r in
              edges.filter(F.col("id_a") < 8 * 500).collect()]
    uf = dict(DD._driver_union_find(sample))
    got = {r.node: r.cluster_id for r in
           labels.filter(F.col("node") < 8 * 500).collect()}
    assert got == uf


def test_star_components_self_pairs_and_nonconvergence(spark):
    """star_components must (a) label a self-paired isolated node with
    itself — the union-find branch does, and the two branches advertise
    identical output; (b) RAISE when the round cap is exhausted rather
    than return a non-star edge set with conflicting labels per node."""
    import pytest as _pt

    pairs = spark.createDataFrame(
        [(7, 7), (1, 2), (2, 3)], "id_a long, id_b long")
    labels = {r.node: r.cluster_id
              for r in DD.star_components(pairs).collect()}
    assert labels == {7: 7, 1: 1, 2: 1, 3: 1}
    uf = dict(DD._driver_union_find([(7, 7), (1, 2), (2, 3)]))
    assert labels == uf

    with _pt.raises(RuntimeError, match="did not stabilize"):
        # 1 round cannot even produce the first repeated fingerprint
        DD.star_components(
            spark.createDataFrame([(1, 2), (2, 3), (3, 4)],
                                  "id_a long, id_b long"),
            max_iterations=1)


def test_star_components_tricky_graphs_match_union_find(spark):
    """star_components vs driver union-find on adversarial shapes: a long
    chain (worst case for label propagation, log-rounds for star), a
    cycle, a complete clique, a star whose CENTER is the max id (labels
    must flow to the min leaf), and a binary tree — all in one session."""
    import itertools

    graphs = {
        "chain64": [(i, i + 1) for i in range(1, 64)],
        "cycle": [(i, i % 10 + 1) for i in range(1, 11)],
        "clique": [(a, b) for a, b in itertools.combinations(range(1, 9), 2)],
        "max_center_star": [(99, leaf) for leaf in (3, 7, 11, 15)],
        "btree": [(i // 2, i) for i in range(2, 32)],
    }
    for name, edges in graphs.items():
        pairs = spark.createDataFrame(
            [(min(a, b), max(a, b)) for a, b in edges],
            "id_a long, id_b long")
        got = {r.node: r.cluster_id
               for r in DD.star_components(pairs).collect()}
        want = dict(DD._driver_union_find(edges))
        assert got == want, f"{name}: {got} != {want}"


def test_per_round_checkpoints_free_superseded_rounds(spark, empty_registry):
    """star_components and refine_centroids checkpoint every round and
    release the round it supersedes: after a multi-round call inside a
    scope only the returned frame's checkpoint stays pinned, and the
    scope frees that."""
    from replibyte_spark.util import released

    chain = spark.createDataFrame([(i, i + 1) for i in range(1, 64)],
                                  "id_a long, id_b long")
    vecs = spark.createDataFrame(
        [(i, [float(i % 4), float(i // 4)]) for i in range(16)],
        "vec_id long, embedding array<double>")
    init = S.default_centroids(vecs, n_centroids=2)
    with released():
        labels = DD.star_components(chain)
        assert empty_registry() == 1
        assert {r.cluster_id for r in labels.collect()} == {1}
    with released():
        refined = S.refine_centroids(vecs, init, iterations=4)
        assert empty_registry() == 1
        assert refined.count() == 2
    assert empty_registry() == 0


def test_lloyd_refinement_improves_quantization(spark):
    """On normalized clustered vectors, two Lloyd iterations must improve
    mean best-dot over the hash-sampled init (centroids move to cluster
    means), while keeping exactly k centroids and the (id, cv) contract."""
    import math
    import random

    rng = random.Random(21)
    centers = []
    for _ in range(8):
        v = [rng.uniform(-1, 1) for _ in range(16)]
        n = math.sqrt(sum(x * x for x in v))
        centers.append([x / n for x in v])
    rows = []
    for i in range(400):
        c = centers[i % 8]
        v = [x + rng.uniform(-0.05, 0.05) for x in c]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((i, [x / n for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    init = S.default_centroids(df, n_centroids=8)
    refined = S.refine_centroids(df, init, iterations=2, normalize=True)
    assert refined.count() == 8

    def mean_best_dot(cents):
        from pyspark.sql import functions as F

        from replibyte_spark import dialect as D

        scored = (df.crossJoin(F.broadcast(cents))
                  .withColumn("__d", F.expr(S.dot_sql(D.SPARK, "embedding", "cv")))
                  .groupBy("vec_id").agg(F.max("__d").alias("best")))
        return scored.agg(F.avg("best")).first()[0]

    before, after = mean_best_dot(init), mean_best_dot(refined)
    assert after > before, (before, after)


def test_minhash_rejects_correlated_hash_count(spark):
    """n_hashes beyond the independent multiplier family must raise —
    the old modulo wrap made hash i+16 a constant shift of hash i,
    silently voiding banded-LSH independence."""
    import pytest as _pt

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with _pt.raises(ValueError, match="independent"):
        DD.minhash_signatures(docs, "doc_id", "text", n_hashes=17)
    # the full supported family still works
    assert len(DD.minhash_signatures(docs, "doc_id", "text",
                                     n_hashes=16).columns) == 17


def test_zero_norm_vectors_excluded_from_both_brute_paths(spark):
    """Zero-norm vectors have no defined cosine.  Policy (shared by the
    SQL fold and the Arrow path, which would otherwise diverge on NaN
    ordering): such rows are excluded from BOTH sides of the scoring."""
    rows = [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.6, 0.8]),
            (4, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    q = df.filter(F.col("vec_id") == 1)
    sql_res = sorted(map(tuple, S.brute_force_topk(df, q, k=3).collect()))
    arrow_res = sorted(map(tuple,
                           S.brute_force_topk_arrow(df, q, k=3).collect()))
    assert sql_res == arrow_res and sql_res
    assert all(r[1] != 2 for r in sql_res)   # zero vector never a neighbor
    zq = df.filter(F.col("vec_id") == 2)     # zero-norm QUERY: no rows
    assert S.brute_force_topk(df, zq, k=3).count() == 0
    assert S.brute_force_topk_arrow(df, zq, k=3).count() == 0


def test_centroid_ids_with_quotes_are_escaped(spark):
    """The API accepts arbitrary caller-supplied centroid ids; ids
    containing single quotes must survive the literal-inlined assign and
    probe expressions (D.q escaping), not break the rendered SQL."""
    rows = [(i, [float(i), 1.0]) for i in range(1, 6)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = [("it's-a", [1.0, 0.0]), ("o'brien", [0.0, 1.0])]
    assigned = S.ivf_assign(df, centroids=cents)
    assert {r.centroid_id for r in assigned.collect()} <= {"it's-a",
                                                           "o'brien"}
    res = S.ivf_topk(df, df.filter(F.col("vec_id") == 1), k=2,
                     centroids=cents, n_probe=2)
    assert res.count() >= 1                  # renders + runs, no parse error


def test_build_ann_index_with_refinement(spark, sf_dir, tmp_path):
    """refine_iterations at build time: the sidecar carries the REFINED
    centroid set (≠ the raw hash sample), meta records the iteration
    count, and ivf_topk over the indexed corpus with the stored centroids
    equals ivf_topk over raw vectors with the same explicit refined set —
    the offline-Lloyd path proven end to end."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    path = str(tmp_path / "refined_idx")
    cents = S.build_ann_index(emb, path, bits=6, n_centroids=8, dim=64,
                              refine_iterations=1,
                              refine_deterministic=True)
    meta = S.load_ann_index_meta(spark, path)
    assert meta["refine_iterations"] == 1
    raw_sample = S._collect_centroids(
        S.default_centroids(emb, 8))
    assert {c for c, _ in cents} == {c for c, _ in raw_sample}  # ids stable
    assert dict(cents) != dict(raw_sample)        # vectors actually moved
    corpus, cents2 = S.load_ann_index(spark, path)
    assert cents == cents2
    idx = sorted(map(tuple, S.ivf_topk(corpus, queries, k=3,
                                       centroids=cents2).collect()))
    raw = sorted(map(tuple, S.ivf_topk(emb, queries, k=3,
                                       centroids=cents).collect()))
    assert idx == raw and idx


def test_ann_index_rebuild_refreshes_meta_cache(spark, sf_dir, tmp_path):
    """Rebuild an index AT THE SAME PATH with different (bits, seed) in one
    process: load_ann_index must stamp the NEW meta onto the bucket column
    (build_ann_index writes the _META_CACHE entry through), so the
    plan-time guard accepts the new parameters and rejects the old ones.
    Before round 7 the stale cached entry did the exact opposite."""
    import pytest as _pt

    from replibyte_spark.catalog import load_table as _lt

    emb = _lt(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    path = str(tmp_path / "rebuild_idx")
    S.build_ann_index(emb, path, bits=6, seed="rp", n_centroids=4, dim=64)
    corpus, _ = S.load_ann_index(spark, path, with_centroids=False)
    assert S.lsh_topk(corpus, queries, k=3, bits=6, seed="rp",
                      dim=64).count() >= 0

    # rebuild in-place with a different width AND seed
    S.build_ann_index(emb, path, bits=7, seed="seed2", n_centroids=4,
                      dim=64)
    meta = S.load_ann_index_meta(spark, path)   # default use_cache=True
    assert (meta["bits"], meta["seed"]) == (7, "seed2")
    corpus2, _ = S.load_ann_index(spark, path, with_centroids=False)
    # NEW parameters pass the plan-time guard...
    ok = S.lsh_topk(corpus2, queries, k=3, bits=7, seed="seed2", dim=64)
    assert ok.count() >= 0
    # ...and the PREVIOUS build's parameters are rejected at plan time
    with _pt.raises(ValueError, match="built with bits=7"):
        S.lsh_topk(corpus2, queries, k=3, bits=6, seed="rp", dim=64)


def test_simhash_wide_block_path_complete(spark):
    """Blocks wider than 63 bits cannot pack into one BIGINT word (conv()
    values >= 2^63 overflow, silently dropping pairs) — those layouts must
    route through the wide-block path and still honor the pigeonhole
    contract.  bits=64/max_hamming=0 is the minimal trigger: one 64-bit
    block, pairs = identical signatures."""
    from replibyte_spark.operators.dedup import (
        simhash_block_bounds,
        simhash_pairs_from_signatures,
    )

    assert simhash_block_bounds(64, 0) == [(1, 64)]
    # signatures with the high bit SET so the packed value would be >= 2^63
    hi = "1" + "0" * 62 + "1"          # 64 bits, value 2^63 + 1
    hi2 = "1" + "0" * 63               # 64 bits, value 2^63
    sig = spark.createDataFrame(
        [(1, hi), (2, hi), (3, hi2), (4, "0" * 64)],
        "doc_id int, simhash string")
    got = sorted(map(tuple, simhash_pairs_from_signatures(
        sig, "doc_id", bits=64, max_hamming=0).collect()))
    assert got == [(1, 2, 0)]

    # bits=128 / max_hamming=1 → two 64-bit blocks; Hamming-1 pair must
    # survive, Hamming-2 must not
    a = "1" * 64 + "0" * 64
    b = a[:127] + "1"                  # distance 1 from a (last bit)
    c = "00" + a[2:]                   # distance 2 from a, 3 from b
    sig2 = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id int, simhash string")
    got2 = sorted(map(tuple, simhash_pairs_from_signatures(
        sig2, "doc_id", bits=128, max_hamming=1).collect()))
    assert got2 == [(1, 2, 1)]


def test_minhash_index_incremental_dedup(spark, tmp_path):
    """build_minhash_index → dedup_batch_against_index: exact copies of
    indexed corpus docs are flagged at agreement 1.0 and dropped, novel
    docs survive — and the corpus is NEVER re-shingled at batch time (the
    batch plan reads the stored parquet, no corpus text scan)."""
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "pack my box with five dozen liquor jugs right now"),
         (3, "sphinx of black quartz judge my vow says the sign")],
        "doc_id long, text string")
    path = str(tmp_path / "mh_index")
    DD.build_minhash_index(corpus, path, n_hashes=12, bands=4, n=3)
    meta = DD.load_minhash_index_meta(spark, path)
    assert (meta["n_hashes"], meta["bands"], meta["n"]) == (12, 4, 3)

    new_batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),  # copy of 1
         (11, "completely novel content that shares no shingles at all"),
         (12, "pack my box with five dozen liquor jugs right now")],  # copy of 2
        "doc_id long, text string")
    flagged = DD.minhash_index_flagged_pairs(new_batch, path,
                                             threshold=0.75)
    rows = {(r.id_new, r.id_corpus): r.agreement for r in flagged.collect()}
    assert rows[(10, 1)] == 1.0
    assert rows[(12, 2)] == 1.0
    assert all(k[0] != 11 for k in rows)

    surv = DD.dedup_batch_against_index(new_batch, path, threshold=0.75)
    assert {r.doc_id for r in surv.collect()} == {11}

    # batch-time plan reads the INDEX parquet, not the corpus documents:
    # the only file scans are the signatures/bands under the index path
    plan = (flagged._jdf.queryExecution().executedPlan().toString())
    import re
    scans = re.findall(r"Location: InMemoryFileIndex\(\d+ paths?\)\[([^\]]*)", plan)
    # (plan toString truncates long paths — match the directory prefix)
    assert scans and all("/mh_" in s for s in scans), scans


def test_exact_fingerprint_tier(spark, tmp_path):
    """The r8 exact-fingerprint sidecar: exact-after-normalization batch
    docs are flagged by one md5 + semi-join.  The two-tier admit is a
    SUBSET of the LSH-only result (a pre-r8 index without the sidecar):
    equal on byte-identical dups, smaller when the batch carries
    case/whitespace variants whose raw-text shingles diverge below the
    agreement threshold."""
    import shutil

    corpus = spark.createDataFrame(
        [(1, "The quick brown fox jumps over the lazy dog today"),
         (2, "pack my box with five dozen liquor jugs right now")],
        "doc_id long, text string")
    path = str(tmp_path / "mh_fp")
    DD.build_minhash_index(corpus, path, n_hashes=12, bands=4, n=3)
    batch = spark.createDataFrame(
        # 10: same as 1 modulo case/whitespace (normalization canon);
        # 11: novel; 12: near-dup of 2 but not exact (one word changed)
        [(10, "the  quick Brown fox jumps over the lazy dog today"),
         (11, "totally new words that never appeared in the corpus"),
         (12, "pack my box with nine dozen liquor jugs right now")],
        "doc_id long, text string")
    flagged_df = DD.exact_index_flagged_ids(batch, path)
    exact = {r.doc_id for r in flagged_df.collect()}
    assert exact == {10}
    # scale shape: the corpus-sized fingerprint parquet must stream
    # through a broadcast join (batch side broadcast), never shuffle on
    # the fingerprint key; no corpus TEXT scan appears anywhere
    plan = flagged_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    import re
    scans = re.findall(
        r"Location: InMemoryFileIndex\(\d+ paths?\)\[([^\]]*)", plan)
    # (plan toString truncates long paths — match the index dir prefix:
    # every file scan reads from under the index, none from a corpus)
    assert scans and all("/mh_fp" in s for s in scans), scans
    two_tier = {r.doc_id for r in DD.dedup_batch_against_index(
        batch, path, threshold=0.6).collect()}
    # legacy index without the sidecar: same admitted set via LSH only
    legacy = str(tmp_path / "mh_legacy")
    shutil.copytree(path, legacy)
    shutil.rmtree(legacy + "/fingerprints")
    lsh_only = {r.doc_id for r in DD.dedup_batch_against_index(
        batch, legacy, threshold=0.6).collect()}
    # two-tier ⊆ LSH-only: the normalized fingerprint catches the
    # case/whitespace variant (10) whose raw-text shingles diverge enough
    # to miss every LSH band; 12 (one word changed, Jaccard ≈ 0.45) is
    # below these params' catch rate in both paths — deterministic given
    # the md5-derived hashes
    assert two_tier <= lsh_only
    assert two_tier == {11, 12}
    assert lsh_only == {10, 11, 12}


def test_minhash_index_admit_persist_lifecycle(spark, tmp_path,
                                              empty_registry):
    """N successive admit calls leave the persistent-RDD registry flat:
    the batch signature subtree rides the band explode (lsh_band_keys
    `carry`) instead of a per-call persist, so a long-lived ingest
    session accumulates nothing (round-7 verdict What's-wrong #3)."""
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "pack my box with five dozen liquor jugs right now")],
        "doc_id long, text string")
    path = str(tmp_path / "mh_lc")
    DD.build_minhash_index(corpus, path, n_hashes=12, bands=4, n=3)
    assert empty_registry() == 0
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),
         (11, "novel content that shares no shingles with anything")],
        "doc_id long, text string")
    for _ in range(3):
        DD.dedup_batch_against_index(batch, path, threshold=0.75).count()
        assert empty_registry() == 0


def test_lsh_scurve_and_param_picker():
    """The banding S-curve math and the parameter picker's contract."""
    import pytest

    # classic MMDS example: r=3, b=4 at s=0.75 -> 1-(1-0.421875)^4
    assert abs(DD.lsh_recall(0.75, 12, 4)
               - (1 - (1 - 0.75 ** 3) ** 4)) < 1e-12
    # monotone in similarity
    rs = [DD.lsh_recall(s / 10, 12, 4) for s in range(1, 10)]
    assert all(a < b for a, b in zip(rs, rs[1:]))
    with pytest.raises(ValueError, match="divide"):
        DD.lsh_recall(0.5, 12, 5)
    # end-to-end model: closed forms at small n (the r8 advisor's worked
    # examples — the quantized verify stage the plain S-curve overstates)
    assert abs(DD.flagged_recall(0.9, 1, 1, 0.9) - 0.9) < 1e-12
    assert abs(DD.flagged_recall(0.8, 2, 2, 0.8) - 0.8 ** 2) < 1e-12
    # flagged recall never exceeds candidate recall, and the verify stage
    # actually bites (strictly below at a mid similarity)
    assert DD.flagged_recall(0.75, 12, 4, 0.75) < DD.lsh_recall(0.75, 12, 4)
    # picker meets its own contract (recall_at defaults to (1+t)/2 = 0.9)
    n, b = DD.pick_lsh_params(0.8, target_recall=0.95,
                              reject_at=0.3, max_false_rate=0.05)
    assert n % b == 0 and n <= 128
    assert DD.flagged_recall(0.9, n, b, 0.8) >= 0.95
    assert DD.lsh_recall(0.3, n, b) <= 0.05
    # minimality: no smaller hash count satisfies both constraints
    for n2 in range(1, n):
        ok = any(
            n2 % b2 == 0
            and DD.flagged_recall(0.9, n2, b2, 0.8) >= 0.95
            and DD.lsh_recall(0.3, n2, b2) <= 0.05
            for b2 in range(1, n2 + 1))
        assert not ok, (n2,)
    # the default "auto" rejection constraint (threshold/2) rules out the
    # degenerate rows-per-band=1 configs that satisfy recall alone
    for t in (0.7, 0.75, 0.8, 0.9):
        na, ba = DD.pick_lsh_params(t)
        assert na >= 4 and na // ba >= 2, (t, na, ba)
        assert DD.lsh_recall(t / 2, na, ba) <= 0.05
    # impossible contract fails loudly
    with pytest.raises(ValueError, match="no \\(n_hashes"):
        DD.pick_lsh_params(0.5, target_recall=0.999,
                           reject_at=0.49, max_false_rate=0.001,
                           max_hashes=32)


def test_append_minhash_index_closes_ingest_loop(spark, tmp_path):
    """admit → append → re-admit: after extending the index with the
    admitted batch, re-presenting the same batch admits nothing (both
    the original copy and the newly indexed novel doc are now dups)."""
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string")
    path = str(tmp_path / "mh_app")
    DD.build_minhash_index(corpus, path, n_hashes=12, bands=4, n=3)
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),
         (11, "completely novel words that never appeared anywhere")],
        "doc_id long, text string")
    admitted = DD.dedup_batch_against_index(batch, path, threshold=0.75)
    assert {r.doc_id for r in admitted.collect()} == {11}
    DD.append_minhash_index(admitted, path)
    again = DD.dedup_batch_against_index(batch, path, threshold=0.75)
    assert again.count() == 0
    # meta untouched; all three sidecars grew consistently
    meta = DD.load_minhash_index_meta(spark, path)
    assert (meta["n_hashes"], meta["bands"], meta["n"]) == (12, 4, 3)
    import os
    sigs = spark.read.parquet(os.path.join(path, "signatures"))
    bands = spark.read.parquet(os.path.join(path, "bands"))
    fps = spark.read.parquet(os.path.join(path, "fingerprints"))
    assert sigs.count() == 2 and fps.count() == 2
    assert bands.count() == 2 * 4
    # appended band keys match what a fresh full build would store
    rebuilt = str(tmp_path / "mh_rebuild")
    DD.build_minhash_index(corpus.unionByName(
        admitted.select("doc_id", "text")), rebuilt,
        n_hashes=12, bands=4, n=3)
    a = {tuple(r) for r in bands.collect()}
    b = {tuple(r) for r in spark.read.parquet(
        os.path.join(rebuilt, "bands")).collect()}
    assert a == b


def test_append_ann_index_closes_ingest_loop(spark, tmp_path):
    """Semantic twin: admit → append → re-admit yields nothing, and the
    appended rows carry valid bucket/norm/centroid columns."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.2, 0.1, 0.0]), (2, [0.0, 1.0, 0.0, 0.4])],
        "vec_id long, embedding array<double>")
    path = str(tmp_path / "ann_app")
    S.build_ann_index(corpus, path, bits=6, n_centroids=2, dim=4)
    batch = spark.createDataFrame(
        [(10, [1.0, 0.2, 0.1, 0.0]),          # copy of 1
         (11, [-0.5, 0.1, -1.0, 0.2])],       # novel
        "vec_id long, embedding array<double>")
    admitted = S.embedding_index_admit(batch, path, threshold=0.9)
    assert {r.vec_id for r in admitted.collect()} == {11}
    S.append_ann_index(admitted, path)
    assert S.embedding_index_admit(batch, path, threshold=0.9).count() == 0
    import os
    corpus_now = spark.read.parquet(os.path.join(path, "corpus"))
    rows = {r.vec_id: r for r in corpus_now.collect()}
    assert set(rows) == {1, 2, 11}
    r11 = rows[11]
    assert len(r11.bucket) == 6 and set(r11.bucket) <= {"0", "1"}
    assert r11.norm > 0 and r11.centroid_id is not None
    # a layout carrying product-quantization codes (written by an older
    # build) is refused before anything is appended
    import shutil

    import pytest
    legacy = str(tmp_path / "ann_pq_legacy")
    shutil.copytree(path, legacy)
    (corpus_now.withColumn("pq_codes", F.array(F.lit(0).cast("tinyint")))
     .write.mode("overwrite").parquet(os.path.join(legacy, "corpus")))
    with pytest.raises(ValueError, match="rebuild"):
        S.append_ann_index(batch, legacy)
    assert spark.read.parquet(os.path.join(legacy, "corpus")).count() == 3


def test_compact_minhash_index(spark, tmp_path):
    """Appending N batches leaves >= N files per subdir; compaction
    consolidates them and changes NOTHING about results (same flagged
    set before/after) — and a .bak/.tmp never survives a clean run."""
    import os

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string")
    path = str(tmp_path / "mh_cp")
    DD.build_minhash_index(corpus, path, n_hashes=12, bands=4, n=3)
    for i in range(3):
        b = spark.createDataFrame(
            [(100 + i, f"novel batch number {i} with distinct words "
                       f"appearing nowhere else {i}")],
            "doc_id long, text string")
        DD.append_minhash_index(b, path)
    probe = spark.createDataFrame(
        [(500, "the quick brown fox jumps over the lazy dog today"),
         (501, "novel batch number 1 with distinct words appearing "
               "nowhere else 1")],
        "doc_id long, text string")
    before = {(r.id_new, r.id_corpus, r.agreement) for r in
              DD.minhash_index_flagged_pairs(probe, path,
                                             threshold=0.75).collect()}
    stats = DD.compact_minhash_index(spark, path)
    for sub, (nb, na) in stats.items():
        assert nb >= 4 and na < nb, (sub, nb, na)
        assert not os.path.exists(os.path.join(path, sub + ".bak"))
        assert not os.path.exists(os.path.join(path, sub + ".tmp"))
    after = {(r.id_new, r.id_corpus, r.agreement) for r in
             DD.minhash_index_flagged_pairs(probe, path,
                                            threshold=0.75).collect()}
    assert before == after and (500, 1, 1.0) in after


def test_compact_ann_index(spark, tmp_path):
    """Same for the embedding side: appended corpus files consolidate,
    admit results unchanged."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.2, 0.1, 0.0])], "vec_id long, embedding array<double>")
    path = str(tmp_path / "ann_cp")
    S.build_ann_index(corpus, path, bits=6, n_centroids=1, dim=4)
    for i in range(3):
        b = spark.createDataFrame(
            [(100 + i, [0.1 * i - 0.9, 1.0, 0.3 * i, -0.5])],
            "vec_id long, embedding array<double>")
        S.append_ann_index(b, path)
    probe = spark.createDataFrame(
        [(500, [1.0, 0.2, 0.1, 0.0]), (501, [0.5, -0.5, 0.9, 0.9])],
        "vec_id long, embedding array<double>")
    before = {r.vec_id for r in
              S.embedding_index_admit(probe, path, threshold=0.9).collect()}
    stats = S.compact_ann_index(spark, path)
    nb, na = stats["corpus"]
    assert nb >= 4 and na < nb
    after = {r.vec_id for r in
             S.embedding_index_admit(probe, path, threshold=0.9).collect()}
    assert before == after and 500 not in after


def test_compact_minhash_index_pre_r8_layout(spark, tmp_path):
    """r9 (advisor): a pre-r8 index WITHOUT the fingerprints sidecar —
    explicitly supported by dedup_batch_against_index — compacts cleanly
    (absent subdir skipped via Hadoop FS existence check), and a
    non-index path fails as a ValueError (the CLI's exit-2 convention),
    never a raw AnalysisException after a partial rewrite."""
    import shutil

    import pytest

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string")
    path = str(tmp_path / "mh_old")
    DD.build_minhash_index(corpus, path, n_hashes=12, bands=4, n=3)
    for i in range(2):
        b = spark.createDataFrame(
            [(100 + i, f"novel batch number {i} with distinct words")],
            "doc_id long, text string")
        DD.append_minhash_index(b, path)
    shutil.rmtree(path + "/fingerprints")          # simulate a pre-r8 index
    stats = DD.compact_minhash_index(spark, path)
    assert set(stats) == {"signatures", "bands"}
    assert all(na < nb for nb, na in stats.values())
    probe = spark.createDataFrame(
        [(500, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string")
    assert {(r.id_new, r.id_corpus) for r in
            DD.minhash_index_flagged_pairs(probe, path,
                                           threshold=0.75).collect()} \
        == {(500, 1)}
    with pytest.raises(ValueError, match="no MinHash index"):
        DD.compact_minhash_index(spark, str(tmp_path / "nowhere"))


def test_full_incremental_admit_tiers_and_precedence(spark, tmp_path):
    """r9 composed ingest: each tier catches its engineered doc, tier
    precedence holds (a doc that BOTH fingerprint-matches and
    embedding-matches is 'exact', never 'semantic'), and every batch doc
    gets exactly one decision."""
    from replibyte_spark.operators import ingest as I
    from replibyte_spark.operators import similarity as S

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "pack my box with five dozen liquor jugs right now")],
        "doc_id long, text string")
    emb = {1: [1.0, 0.2, 0.1, 0.0], 2: [0.0, 1.0, 0.0, 0.4]}
    mh = str(tmp_path / "fa_mh")
    ann = str(tmp_path / "fa_ann")
    DD.build_minhash_index(corpus, mh, n_hashes=12, bands=4, n=3)
    S.build_ann_index(
        spark.createDataFrame([(k, v) for k, v in emb.items()],
                              "doc_id long, embedding array<double>"),
        ann, bits=4, id_col="doc_id", dim=4)
    batch = spark.createDataFrame(
        [  # exact copy of 1 AND carries 1's embedding: precedence → exact
         (10, "The QUICK brown fox jumps over the lazy dog today", emb[1]),
         # one appended word: fingerprint differs, shingles shared → lexical
         (11, "pack my box with five dozen liquor jugs right now please",
          [0.9, -0.1, 0.3, 0.2]),
         # novel text, corpus embedding → semantic
         (12, "entirely novel words appearing nowhere in the corpus",
          emb[2]),
         # novel text, novel embedding → admitted
         (13, "qq ww ee rr tt yy uu ii oo pp aa ss dd",
          [-1.0, -0.2, -0.8, -0.1])],
        "doc_id long, text string, embedding array<double>")
    dec = {r.doc_id: r.decision for r in
           I.full_incremental_admit_decisions(
               batch, mh, ann, lexical_threshold=0.75,
               semantic_threshold=0.9).collect()}
    assert dec == {10: "exact", 11: "lexical", 12: "semantic",
                   13: "admitted"}, dec


def test_full_admit_gate_constants_match_similarity_fixture():
    """The composed gate duplicates EMB_DIM locally (a module-level
    import would reorder query registration) — lock the two constants
    together, and its picker params to the admit gate's."""
    from replibyte_spark.workload import dedup_queries as DQ
    from replibyte_spark.workload import similarity_queries as SQ

    assert DQ.FA_DIM == SQ.EMB_DIM
    assert (DQ.FA_BITS, DQ.FA_PROBE) == (SQ.EADM_BITS, SQ.EADM_PROBE)


def test_append_verify_guards_double_append(spark, tmp_path):
    """r9: verify=True turns the silent caller contract into a loud
    pre-write guard — re-appending an already-indexed id raises BEFORE
    anything is written; a fresh id appends fine on both index kinds."""
    import pytest

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string")
    mh = str(tmp_path / "vg_mh")
    DD.build_minhash_index(corpus, mh, n_hashes=12, bands=4, n=3)
    fresh = spark.createDataFrame([(2, "completely new words here")],
                                  "doc_id long, text string")
    DD.append_minhash_index(fresh, mh, verify=True)
    import os
    n_sig_files = len([f for f in os.listdir(mh + "/signatures")
                       if f.endswith(".parquet")])
    with pytest.raises(ValueError, match="already indexed"):
        DD.append_minhash_index(fresh, mh, verify=True)
    # nothing was written by the refused append
    assert len([f for f in os.listdir(mh + "/signatures")
                if f.endswith(".parquet")]) == n_sig_files
    ann = str(tmp_path / "vg_ann")
    S.build_ann_index(spark.createDataFrame(
        [(1, [1.0, 0.0, 0.2, 0.1])], "vec_id long, embedding array<double>"),
        ann, bits=4, n_centroids=1, dim=4)
    vfresh = spark.createDataFrame(
        [(2, [0.0, 1.0, 0.0, 0.3])], "vec_id long, embedding array<double>")
    S.append_ann_index(vfresh, ann, verify=True)
    with pytest.raises(ValueError, match="already indexed"):
        S.append_ann_index(vfresh, ann, verify=True)


def test_flagged_recall_matches_monte_carlo():
    """The closed-form end-to-end recall (binomial x band-completion
    subset counting) against a seeded simulation of the actual admit
    rule: n iid component agreements at probability J, flagged iff some
    band fully agrees AND agree_count/n >= threshold."""
    import random

    rng = random.Random(42)
    for j, n, b, t in [(0.85, 12, 4, 0.75), (0.9, 15, 3, 0.8),
                       (0.7, 20, 5, 0.6), (0.95, 10, 2, 0.9)]:
        rows = n // b
        hits = 0
        trials = 20_000
        for _ in range(trials):
            agree = [rng.random() < j for _ in range(n)]
            band_hit = any(all(agree[k * rows:(k + 1) * rows])
                           for k in range(b))
            if band_hit and sum(agree) / n >= t:
                hits += 1
        got = DD.flagged_recall(j, n, b, t)
        assert abs(hits / trials - got) < 0.01, (j, n, b, t,
                                                hits / trials, got)


def test_rp_flag_prob_matches_monte_carlo():
    """The hyperplane candidate-probability model (1 - theta/pi per
    plane, binomial over Hamming <= m) against a seeded geometric
    simulation: Gaussian hyperplanes vs vector pairs constructed at an
    exact cosine."""
    import math
    import random

    rng = random.Random(7)
    dim = 24

    def unit(v):
        nrm = math.sqrt(sum(x * x for x in v))
        return [x / nrm for x in v]

    def gauss_vec():
        return [rng.gauss(0, 1) for _ in range(dim)]

    for cos_t, bits, m in [(0.9, 5, 1), (0.7, 4, 0), (0.5, 6, 1)]:
        hits = 0
        trials = 4_000
        for _ in range(trials):
            a = unit(gauss_vec())
            u = gauss_vec()
            proj = sum(x * y for x, y in zip(u, a))
            perp = unit([x - proj * y for x, y in zip(u, a)])
            bvec = [cos_t * x + math.sqrt(1 - cos_t ** 2) * y
                    for x, y in zip(a, perp)]
            ham = 0
            for _p in range(bits):
                h = gauss_vec()
                sa = sum(x * y for x, y in zip(h, a)) > 0
                sb = sum(x * y for x, y in zip(h, bvec)) > 0
                ham += sa != sb
            hits += ham <= m
        got = S.rp_flag_prob(cos_t, bits, m)
        assert abs(hits / trials - got) < 0.025, (cos_t, bits, m,
                                                 hits / trials, got)


def test_compact_recovers_crashed_swap(spark, tmp_path):
    """r9: a compaction crash between the two renames (final gone, .bak
    holding the complete old content, .tmp possibly partial) is repaired
    by simply re-running compaction — the .bak is restored first, the
    orphan .tmp dropped, results identical to never having crashed."""
    import os
    import shutil

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string")
    path = str(tmp_path / "mh_crash")
    DD.build_minhash_index(corpus, path, n_hashes=12, bands=4, n=3)
    for i in range(2):
        DD.append_minhash_index(spark.createDataFrame(
            [(100 + i, f"novel batch {i} words unlike others {i}")],
            "doc_id long, text string"), path)
    probe = spark.createDataFrame(
        [(500, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string")
    before = {(r.id_new, r.id_corpus) for r in
              DD.minhash_index_flagged_pairs(probe, path,
                                             threshold=0.75).collect()}
    # simulate the crash window: signatures/ renamed away to .bak, plus a
    # half-written .tmp orphan
    sig = os.path.join(path, "signatures")
    shutil.move(sig, sig + ".bak")
    os.makedirs(sig + ".tmp")
    open(os.path.join(sig + ".tmp", "part-partial.parquet"), "wb").close()
    stats = DD.compact_minhash_index(spark, path)
    assert set(stats) == {"signatures", "bands", "fingerprints"}
    assert not os.path.exists(sig + ".bak")
    assert not os.path.exists(sig + ".tmp")
    after = {(r.id_new, r.id_corpus) for r in
             DD.minhash_index_flagged_pairs(probe, path,
                                            threshold=0.75).collect()}
    assert after == before and (500, 1) in after


def test_ngram_jaccard_max_gram_freq_drops_hot_grams(spark):
    """max_gram_freq caps a gram's doc frequency == its bucket size (the r14
    bucket-expansion rewrite turned the old freq-aggregate + join into a
    size filter): the hot gram must vanish from pairing AND from the
    Jaccard sets, and values must match the hand-computed filtered sets."""
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "a b c x y")],
        "doc_id long, text string")
    # "a b c" appears in all 3 docs; every other trigram in <= 2.
    uncapped = {(r.id_a, r.id_b): r.jaccard for r in
                DD.ngram_jaccard_pairs(docs, "doc_id", "text",
                                       threshold=0.1).collect()}
    assert uncapped == {(1, 2): 0.5, (1, 3): 0.2, (2, 3): 0.2}
    capped = {(r.id_a, r.id_b): r.jaccard for r in
              DD.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.1,
                                     max_gram_freq=2).collect()}
    # filtered sets: d1={b c d, c d e}, d2={b c d, c d f}, d3={b c x, c x y}
    assert capped == {(1, 2): 0.333333}
