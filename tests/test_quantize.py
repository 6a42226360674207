"""int8 scalar quantization (operators/quantize.py): reconstruction bound,
zero-vector edge, recall + exact-cosine agreement vs brute force, and the
column-pruning plan shape on a materialized code layout.

With ONE centroid and n_probe=1, :func:`ivf_topk_quantized` scores every
vector, i.e. it is the SQ8 brute-force scan; the tests that compare
against a full-corpus oracle use that configuration."""

from __future__ import annotations

from pyspark.sql import functions as F

from replibyte_spark.operators.quantize import (Q_MAX, ivf_topk_quantized,
                                                quantize_vectors)
from replibyte_spark.operators.similarity import brute_force_topk


def _one_cell(dim: int) -> list:
    return [("c0", [1.0] * dim)]


def test_reconstruction_error_within_half_step(spark):
    rows = [(1, [0.31, -0.7, 0.005, 1.9]), (2, [-3.2, 0.0, 0.1, 0.2])]
    out = quantize_vectors(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"))
    for r in out.collect():
        scale = r["qscale"]
        assert scale > 0
        assert max(abs(c) for c in r["q"]) <= Q_MAX
        for x, c in zip(r["embedding"], r["q"]):
            assert abs(c * scale - x) <= scale / 2 + 1e-12


def test_zero_vector_gets_zero_codes(spark):
    out = quantize_vectors(spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"))
    r = out.collect()[0]
    assert r["qscale"] == 0.0 and r["q"] == [0, 0, 0] and r["norm"] == 0.0


def test_recall_and_exact_cosines_vs_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    exact = brute_force_topk(emb, queries, k=5)
    quant = ivf_topk_quantized(emb, queries, _one_cell(64), k=5, n_probe=1,
                               expand=4)
    ex = {(r["query_id"], r["neighbor_id"]): r["cosine"]
          for r in exact.collect()}
    qu = {(r["query_id"], r["neighbor_id"]): r["cosine"]
          for r in quant.collect()}
    hits = sum(1 for p in qu if p in ex)
    recall = hits / len(ex)
    assert recall >= 0.9, f"recall@5 {recall}"
    # the re-rank is exact: every agreeing pair reports the identical cosine
    for p in qu:
        if p in ex:
            assert qu[p] == ex[p]


def test_precomputed_codes_are_consumed(spark):
    """A corpus already carrying (q, qscale, norm) skips requantization —
    results identical either way."""
    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
            for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pre = quantize_vectors(emb)
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    a = sorted(map(tuple, ivf_topk_quantized(
        emb, queries, _one_cell(8), k=3, n_probe=1).collect()))
    b = sorted(map(tuple, ivf_topk_quantized(
        pre, queries, _one_cell(8), k=3, n_probe=1).collect()))
    assert a == b


def test_materialized_layout_prunes_fp_column(spark, tmp_path, sf_dir):
    """With codes persisted by build_ann_index(quantize=True), the IVF-SQ8
    candidate scan's parquet read must NOT include the fp embedding
    column — the 4× bandwidth claim, in the plan."""
    from replibyte_spark.operators.similarity import (build_ann_index,
                                                      load_ann_index)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "qidx")
    cents = build_ann_index(emb, path, bits=4, dim=64, quantize=True)
    corpus, _ = load_ann_index(spark, path, with_centroids=False)
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    plan = ivf_topk_quantized(corpus, queries, cents, k=5) \
        ._jdf.queryExecution().executedPlan().toString()
    # identify the corpus scans by exclusion (toString truncates long tmp
    # paths, so matching the qcorpus filename is unreliable)
    scans = [ln for ln in plan.splitlines()
             if "FileScan" in ln and "testdata" not in ln]
    assert len(scans) == 2, plan
    code_scans = [s for s in scans if "embedding" not in s.split(
        "ReadSchema:")[-1]]
    fp_scans = [s for s in scans if "embedding" in s.split(
        "ReadSchema:")[-1] and "q:" not in s.split("ReadSchema:")[-1]]
    assert len(code_scans) == 1, scans   # approx scan: codes only
    assert len(fp_scans) == 1, scans     # re-rank scan: fp only


def test_ivf_quantized_matches_ivf_exact_on_fixture(spark, sf_dir):
    """IVF-SQ8 probes the same cells as ivf_topk; with expand=4 on the
    fixture the final top-k should agree with the exact IVF path almost
    everywhere, and every agreeing pair reports the identical cosine."""
    from replibyte_spark.operators.similarity import (default_centroids,
                                                      ivf_topk)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    cents = [(r["centroid_id"], [float(x) for x in r["cv"]])
             for r in default_centroids(emb, 16).collect()]
    exact = {(r["query_id"], r["neighbor_id"]): r["cosine"]
             for r in ivf_topk(emb, queries, k=5, n_probe=2,
                               centroids=cents).collect()}
    quant = {(r["query_id"], r["neighbor_id"]): r["cosine"]
             for r in ivf_topk_quantized(emb, queries, cents, k=5,
                                         n_probe=2, expand=4).collect()}
    hits = sum(1 for p in quant if p in exact)
    assert hits / len(exact) >= 0.9, hits / len(exact)
    for p in quant:
        if p in exact:
            assert quant[p] == exact[p]


def test_ivf_quantized_empty_centroids(spark):
    emb = spark.createDataFrame([(1, [1.0, 0.0])],
                                "vec_id long, embedding array<double>")
    out = ivf_topk_quantized(emb, emb, [], k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]


def test_quantized_index_layout_roundtrip(spark, tmp_path, sf_dir):
    """build_ann_index(quantize=True) stores codes; the loaded corpus is
    consumed as-is by ivf_topk_quantized (identical results to on-the-fly
    quantization), appends mirror the layout, meta records the flag."""
    from replibyte_spark.operators.similarity import (append_ann_index,
                                                      build_ann_index,
                                                      load_ann_index,
                                                      load_ann_index_meta)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    head = emb.filter(F.col("vec_id") < 400)
    tail = emb.filter(F.col("vec_id") >= 400)
    path = str(tmp_path / "qidx")
    cents = build_ann_index(head, path, bits=4, dim=64, quantize=True)
    meta = load_ann_index_meta(spark, path, use_cache=False)
    assert meta["quantized"] is True
    corpus, _ = load_ann_index(spark, path, with_centroids=False)
    assert {"q", "qscale", "norm", "centroid_id"} <= set(corpus.columns)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    from_layout = sorted(map(tuple, ivf_topk_quantized(
        corpus, queries, cents, k=3, n_probe=2).collect()))
    on_the_fly = sorted(map(tuple, ivf_topk_quantized(
        head.select("vec_id", "embedding"), queries, cents, k=3,
        n_probe=2).collect()))
    assert from_layout == on_the_fly
    # append mirrors the quantized schema — reload still reads cleanly
    append_ann_index(tail, path)
    corpus2, _ = load_ann_index(spark, path, with_centroids=False)
    assert corpus2.count() == emb.count()
    assert corpus2.filter(F.col("q").isNull()).count() == 0


def test_quantized_topk_matches_numpy_ground_truth(spark):
    """Independent oracle: re-derive the ENTIRE quantized pipeline
    (scale, codes, integer dot, approx ranking, expand cut, exact
    re-rank) in pure NumPy/Python and compare to the Spark result —
    catches a bug mirrored into the SQL oracle by the shared dialect
    builder, which oracle parity by construction cannot.  One cell probed
    by every query makes the IVF candidate set the whole corpus."""
    import math

    import numpy as np

    rng = [(i, [((i * 13 + j * 7) % 17 - 8) / 3.0 for j in range(12)])
           for i in range(40)]
    emb = spark.createDataFrame(rng, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") % 8 == 0)
    k, expand = 4, 3

    got = [(r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
           for r in ivf_topk_quantized(emb, queries, _one_cell(12), k=k,
                                       n_probe=1, expand=expand).collect()]

    def quant(x):
        x = np.asarray(x, float)
        s = float(np.max(np.abs(x))) / 127.0
        if s == 0.0:
            return np.zeros(len(x), dtype=np.int64), 0.0
        return np.floor(x / s + 0.5).astype(np.int64), s

    vecs = {i: np.asarray(v, float) for i, v in rng}
    codes = {i: quant(v) for i, v in rng}
    norms = {i: float(np.linalg.norm(v)) for i, v in vecs.items()}
    want = []
    for qid in sorted(i for i, _ in rng if i % 8 == 0):
        if norms[qid] == 0:
            continue
        qq, qs = codes[qid]
        apx = []
        for nid in sorted(vecs):
            if nid == qid or norms[nid] == 0:
                continue
            nq, ns = codes[nid]
            a = qs * ns * float(np.dot(qq, nq)) / (norms[qid] * norms[nid])
            apx.append((-a, nid))
        apx.sort()
        cand = [nid for _, nid in apx[:k * expand]]
        exact = sorted(
            ((-round(float(np.dot(vecs[qid], vecs[nid]))
                     / (norms[qid] * norms[nid]), 6), nid)
             for nid in cand))
        for rank, (negc, nid) in enumerate(exact[:k], 1):
            want.append((qid, nid, -negc, rank))
    assert sorted(got) == sorted(want)


def test_nb_scores_match_python_reference(spark):
    """Independent oracle for the classifier: per-doc per-class scores
    recomputed with plain Python floats from the same counting model."""
    import math

    from replibyte_spark.operators.classify import (class_priors,
                                                    nb_class_scores,
                                                    train_naive_bayes)

    rows = [(1, "a b a c", "x"), (2, "b b d", "x"), (3, "e f e", "y"),
            (4, "f f a", "y"), (5, "a e", "x")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    model = train_naive_bayes(docs, "lang")
    priors = class_priors(docs, "lang")
    got = {(r["doc_id"], r["label"]): r["score"]
           for r in nb_class_scores(docs, model, priors, k=0.5).collect()}

    counts: dict = {}
    pri: dict = {}
    for _, text, lab in rows:
        pri[lab] = pri.get(lab, 0) + 1
        for t in text.split():
            counts[(lab, t)] = counts.get((lab, t), 0) + 1
    vocab = len({t for _, t in counts})
    tot = {lab: sum(n for (l2, _), n in counts.items() if l2 == lab)
           for lab in pri}
    ndocs = sum(pri.values())
    for did, text, _ in rows:
        toks = text.split()
        for lab in pri:
            denom = tot[lab] + 0.5 * (vocab + 1)
            s = math.log(pri[lab] / ndocs) + len(toks) * math.log(0.5 / denom)
            tf: dict = {}
            for t in toks:
                tf[t] = tf.get(t, 0) + 1
            for t, f in sorted(tf.items()):
                n = counts.get((lab, t), 0)
                if n:
                    s += f * (math.log(n + 0.5) - math.log(0.5))
            assert abs(got[(did, lab)] - round(s, 6)) < 1e-9, \
                (did, lab, got[(did, lab)], s)
