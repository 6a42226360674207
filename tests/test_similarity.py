

def test_literal_and_dynamic_rp_buckets_identical(spark, sf_dir):
    """The driver-side hyperplane_coeff must stay bit-identical to the SQL
    md5 formula: literal-array buckets (dim known) == dynamic md5 buckets."""
    from pyspark.sql import functions as F

    from replibyte_spark import dialect as D
    from replibyte_spark.catalog import load_table
    from replibyte_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.first().embedding)
    dyn = emb.select("vec_id", F.expr(
        S.rp_bucket_sql(D.SPARK, "embedding", 5, "x")).alias("b"))
    lit = emb.select("vec_id", F.expr(
        S.rp_bucket_sql(D.SPARK, "embedding", 5, "x", dim=dim)).alias("b"))
    assert dyn.exceptAll(lit).count() == 0 and lit.exceptAll(dyn).count() == 0


def test_fixture_embedding_dim_matches_constant(spark, sf_dir):
    from replibyte_spark.catalog import load_table
    from replibyte_spark.workload.similarity_queries import EMB_DIM

    emb = load_table(spark, sf_dir, "embeddings")
    assert len(emb.first().embedding) == EMB_DIM


def test_embedding_index_admit(spark, tmp_path, empty_registry):
    """Semantic incremental admit (r8): an exact embedding copy of an
    indexed vector always flags at cosine 1.0 (Hamming-0 bucket hit); an
    orthogonal vector survives; the batch-time plan reads only the stored
    index layout, and N successive admits leave the persistent-RDD
    registry flat."""
    import re

    from replibyte_spark.operators import similarity as S

    dim = 8
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.2, 0.1, 0.0, 0.3, 0.1, 0.0, 0.2]),
         (2, [0.0, 1.0, 0.0, 0.4, 0.0, 0.2, 0.1, 0.0]),
         (3, [0.1, 0.0, 1.0, 0.0, 0.2, 0.0, 0.3, 0.1])],
        "vec_id long, embedding array<double>")
    path = str(tmp_path / "ann_adm")
    S.build_ann_index(corpus, path, bits=6, n_centroids=2, dim=dim)
    batch = spark.createDataFrame(
        [(10, [1.0, 0.2, 0.1, 0.0, 0.3, 0.1, 0.0, 0.2]),   # copy of 1
         (11, [-1.0, 0.1, -0.5, 0.0, -0.2, 0.0, -0.1, 0.0])],  # far from all
        "vec_id long, embedding array<double>")
    flagged = S.embedding_index_flagged_pairs(batch, path, threshold=0.9)
    rows = {(r.id_new, r.id_corpus): r.cosine for r in flagged.collect()}
    assert rows[(10, 1)] == 1.0
    assert all(k[0] != 11 for k in rows)
    # batch-time file scans touch only the index layout
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    scans = re.findall(
        r"Location: InMemoryFileIndex\(\d+ paths?\)\[([^\]]*)", plan)
    assert scans and all("/ann_adm" in s for s in scans), scans
    # admit drops the copy, keeps the novel vector; registry stays flat
    for _ in range(2):
        surv = {r.vec_id for r in
                S.embedding_index_admit(batch, path, threshold=0.9).collect()}
        assert surv == {11}
        assert empty_registry() == 0


def test_embedding_index_admit_multiprobe_recall(spark, tmp_path):
    """multi_probe=1 flags a near-copy whose bucket differs by ONE plane
    sign (the flip probe finds it); multi_probe=0 misses that bucket —
    the recall/cost dial is real and its semantics match the docstring."""
    from replibyte_spark.operators import similarity as S

    dim = 8
    base = [0.8, 0.6, 0.1, 0.3, 0.5, 0.2, 0.4, 0.7]
    corpus = spark.createDataFrame(
        [(1, base)], "vec_id long, embedding array<double>")
    path = str(tmp_path / "ann_mp")
    S.build_ann_index(corpus, path, bits=6, n_centroids=1, dim=dim)
    # find a perturbation whose bucket is at Hamming distance exactly 1
    # from the base bucket while cosine stays >= 0.9 (deterministic
    # search over small scaled tweaks of single components)
    from replibyte_spark import dialect as D2
    got = None
    for j in range(dim):
        for delta in (0.45, -0.45, 0.9, -0.9):
            v = list(base)
            v[j] = v[j] + delta
            probe = spark.createDataFrame(
                [(20, v)], "vec_id long, embedding array<double>")
            b0 = spark.sql(
                "SELECT " + S.rp_bucket_sql(D2.SPARK, "embedding", 6, "rp", dim)
                + " AS b FROM {v}", v=corpus).collect()[0].b
            b1 = spark.sql(
                "SELECT " + S.rp_bucket_sql(D2.SPARK, "embedding", 6, "rp", dim)
                + " AS b FROM {v}", v=probe).collect()[0].b
            ham = sum(x != y for x, y in zip(b0, b1))
            cos = spark.sql(
                "SELECT " + S.cosine_sql(D2.SPARK, "a.embedding", "b.embedding")
                + " AS c FROM {a} a CROSS JOIN {b} b",
                a=corpus, b=probe).collect()[0].c
            if ham == 1 and cos >= 0.9:
                got = (v, cos)
                break
        if got:
            break
    assert got, "no Hamming-1 high-cosine perturbation found"
    batch = spark.createDataFrame(
        [(20, got[0])], "vec_id long, embedding array<double>")
    with_probe = S.embedding_index_flagged_pairs(
        batch, path, threshold=0.9, multi_probe=1).collect()
    without = S.embedding_index_flagged_pairs(
        batch, path, threshold=0.9, multi_probe=0).collect()
    assert [(r.id_new, r.id_corpus) for r in with_probe] == [(20, 1)]
    assert without == []


def test_rp_param_picker_curve_and_contract():
    """Hyperplane collision-probability math and the (bits, multi_probe)
    picker's contract — the embedding sibling of pick_lsh_params (r9)."""
    import math

    import pytest

    from replibyte_spark.operators import similarity as S

    # closed forms: p = 1 - theta/pi
    assert abs(S.rp_collision_prob(1.0) - 1.0) < 1e-12
    assert abs(S.rp_collision_prob(0.0) - 0.5) < 1e-12
    assert abs(S.rp_collision_prob(-1.0)) < 1e-12
    p9 = 1.0 - math.acos(0.9) / math.pi
    assert abs(S.rp_collision_prob(0.9) - p9) < 1e-12
    # flag prob: exact binomial tail at small bits
    assert abs(S.rp_flag_prob(0.9, 2, 0) - p9 ** 2) < 1e-12
    assert abs(S.rp_flag_prob(0.9, 2, 1)
               - (p9 ** 2 + 2 * p9 * (1 - p9))) < 1e-12
    # monotone in cosine at fixed config
    probs = [S.rp_flag_prob(c / 10, 6, 1) for c in range(0, 10)]
    assert all(a < b for a, b in zip(probs, probs[1:]))
    # picker meets recall and minimizes the far-pair candidate rate
    bits, m = S.pick_rp_params(0.9, 0.8)
    assert S.rp_flag_prob(0.9, bits, m) >= 0.8
    rate = S.rp_flag_prob(0.0, bits, m)
    for b2 in range(1, 17):
        for m2 in range(0, min(1, b2) + 1):
            if S.rp_flag_prob(0.9, b2, m2) >= 0.8:
                assert S.rp_flag_prob(0.0, b2, m2) >= rate - 1e-12
    # multi_probe stays within what probe_bucket_exprs implements
    assert m <= 1
    # impossible contract fails loudly
    with pytest.raises(ValueError, match="no \\(bits"):
        S.pick_rp_params(0.5, 0.999, max_bits=4, max_probe=0)


def test_ann_index_centroid_drift(spark, tmp_path):
    """r9: the frozen-centroid append path reports drift — a deliberately
    shifted appended batch pushes the corpus mean assignment cosine below
    the build-time mean past the rebuild threshold; an in-distribution
    append does not."""
    from replibyte_spark.operators import similarity as S

    # clustered build corpus: two tight clusters around e1 and e2
    rows = [(i, [1.0, 0.05 * (i % 3), 0.0, 0.0]) for i in range(8)]
    rows += [(10 + i, [0.0, 1.0, 0.05 * (i % 3), 0.0]) for i in range(8)]
    corpus = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
    path = str(tmp_path / "ann_drift")
    S.build_ann_index(corpus, path, bits=4, n_centroids=2, dim=4)
    base = S.ann_index_drift(spark, path)
    assert base["drift"] is not None and abs(base["drift"]) < 1e-9
    assert base["rebuild_recommended"] is False
    # in-distribution append: drift stays small
    near = spark.createDataFrame(
        [(100 + i, [1.0, 0.02 * i, 0.0, 0.0]) for i in range(4)],
        "vec_id long, embedding array<double>")
    S.append_ann_index(near, path)
    mid = S.ann_index_drift(spark, path)
    assert mid["rebuild_recommended"] is False
    # shifted batch: a new cluster far from every build centroid
    far = spark.createDataFrame(
        [(200 + i, [0.0, 0.0, 0.1 * (i % 2), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>")
    S.append_ann_index(far, path)
    out = S.ann_index_drift(spark, path)
    assert out["drift"] > S.DRIFT_REBUILD_THRESHOLD
    assert out["rebuild_recommended"] is True
    assert out["current_mean_assign_cos"] < out["build_mean_assign_cos"]


def test_ann_index_drift_pre_r9_meta(spark, tmp_path):
    """An index whose meta sidecar predates the recorded build mean
    reports unknown (all-None), never a fabricated 0 drift."""
    from replibyte_spark.operators import similarity as S

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    path = str(tmp_path / "ann_old_meta")
    S.build_ann_index(corpus, path, bits=2, n_centroids=2, dim=2)
    # rewrite meta WITHOUT the mean_assign_cos column (pre-r9 layout)
    import os
    meta = spark.read.parquet(os.path.join(path, "meta")) \
        .drop("mean_assign_cos")
    meta.write.mode("overwrite").parquet(os.path.join(path, "meta_tmp"))
    import shutil
    shutil.rmtree(os.path.join(path, "meta"))
    shutil.move(os.path.join(path, "meta_tmp"), os.path.join(path, "meta"))
    S._META_CACHE.pop(path, None)
    out = S.ann_index_drift(spark, path)
    assert out == {"build_mean_assign_cos": None,
                   "current_mean_assign_cos": None,
                   "drift": None, "rebuild_recommended": None}


def test_ivf_n_probe_picker_matches_recall_audit(spark, sf_dir):
    """r11: the picker's curve point at the gate's (k, n_probe, cells)
    must EQUAL ivf_recall_audit's average recall — the gauge and the
    regulator read the same instrument — and the curve must be
    monotone, ending at exactly 1.0 (probing every cell is exhaustive
    by construction)."""
    from pyspark.sql import functions as F
    from replibyte_spark.operators import similarity as S
    from replibyte_spark.workload import all_queries
    from replibyte_spark.workload.similarity_queries import IVF_PROBE, K

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    picked, curve = S.pick_ivf_n_probe(
        emb, queries, k=K, target_recall=0.35,
        max_queries=1_000_000)  # cover every audit query
    audit = all_queries()["ivf_recall_audit"].spark_fn(spark, sf_dir)
    avg = audit.agg(F.avg("recall").alias("r")).collect()[0]["r"]
    assert abs(curve[IVF_PROBE] - avg) < 1e-6, (curve[IVF_PROBE], avg)
    # the fixture's audit average is ~0.37, so a 0.35 target picks the
    # gate's own default
    assert picked == IVF_PROBE
    ps = sorted(curve)
    assert all(curve[a] <= curve[b] for a, b in zip(ps, ps[1:]))
    assert curve[ps[-1]] == 1.0


def test_build_ann_index_records_tuned_n_probe(spark, tmp_path, sf_dir):
    """target_recall at build time stores the picked n_probe in the meta
    sidecar (and the in-process cache); omitting it stores NULL."""
    from replibyte_spark.operators import similarity as S

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .filter("vec_id < 300"))
    path = str(tmp_path / "ann_tuned")
    S.build_ann_index(emb, path, n_centroids=4, dim=64,
                      target_recall=0.9)
    meta = S.load_ann_index_meta(spark, path)
    assert 1 <= meta["n_probe"] <= 4
    path2 = str(tmp_path / "ann_untuned")
    S.build_ann_index(emb, path2, n_centroids=4, dim=64)
    assert S.load_ann_index_meta(spark, path2)["n_probe"] is None


def test_tuned_gate_probe_comes_from_sidecar_and_meets_target(spark, sf_dir):
    """r12: the autotune loop is closed — the ann_tuned_ivf_topk gate's
    probe count is the sidecar's pick, and the recall that pick was
    chosen for actually holds on the layout (curve[picked] >= target at
    the gate's own k)."""
    from replibyte_spark.operators import similarity as S
    from replibyte_spark.workload.similarity_queries import (
        IVF_PROBE, K, TUNE_TARGET, _tuned_ann_index)

    corpus, cents, path = _tuned_ann_index(spark, sf_dir)
    tuned = S.sidecar_n_probe(spark, path, IVF_PROBE)
    meta = S.load_ann_index_meta(spark, path)
    assert meta["n_probe"] == tuned, "consumer default must BE the sidecar"
    # re-measure the recall curve on the stored layout at the gate's k:
    # the pick must meet the target it was recorded for
    picked, curve = S.pick_ivf_n_probe(corpus, corpus, centroids=cents,
                                       k=K, target_recall=TUNE_TARGET)
    assert picked == tuned, (picked, tuned)
    assert curve[tuned] >= TUNE_TARGET, curve
    # and the tuned pick is a real decision, not the hand-set constant
    # passing through (isotropic fixture needs far more than 2/16 cells
    # for recall 0.6)
    assert tuned > IVF_PROBE, (tuned, IVF_PROBE)
