"""BM25 (operators/retrieval.py): ranking semantics, the Zipf-head df
cap, and error edges."""

from __future__ import annotations

import pytest

from replibyte_spark.operators.retrieval import bm25_scores, bm25_topk


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_prefers_rare_term_matches(spark):
    """A doc matching the query's RARE term must outrank one matching
    only a corpus-wide common term (the whole point of idf)."""
    docs = _docs(spark, [
        (1, "zygote common common"),             # rare-term match
        (2, "common common common"),             # common-only match
        (3, "common other words here"),
        (4, "unrelated tokens entirely distinct"),
    ])
    q = _docs(spark, [(100, "zygote common")])
    ranked = bm25_topk(docs, q, k=4, max_df_ratio=1.0).collect()
    order = [r["doc_id"] for r in ranked]
    assert order[0] == 1, order


def test_bm25_length_normalization(spark):
    """Same tf for the query term: the SHORTER doc scores higher (b>0)."""
    docs = _docs(spark, [
        (1, "needle " + "pad " * 3),
        (2, "needle " + "pad " * 30),
    ])
    q = _docs(spark, [(100, "needle")])
    s = {r["doc_id"]: r["score"]
         for r in bm25_scores(docs, q, max_df_ratio=1.0).collect()}
    assert s[1] > s[2], s


def test_bm25_df_cap_drops_zipf_head(spark):
    """Terms above max_df_ratio never reach the join: a query of only
    head terms produces no scored pairs."""
    docs = _docs(spark, [(i, "the the filler%d" % i) for i in range(10)])
    q = _docs(spark, [(100, "the")])
    out = bm25_scores(docs, q, max_df_ratio=0.5).collect()
    assert out == []


def test_bm25_empty_corpus_raises(spark):
    docs = _docs(spark, [(1, "   ")])
    q = _docs(spark, [(100, "term")])
    with pytest.raises(ValueError, match="corpus is empty"):
        bm25_scores(docs, q)


def test_bm25_deterministic_under_partitioning(spark):
    rows = [(i, f"alpha tok{i % 7} beta tok{i % 3}") for i in range(60)]
    a = _docs(spark, rows)
    b = _docs(spark, rows).repartition(9)
    q = _docs(spark, [(1000, "alpha tok1")])
    sa = sorted(map(tuple, bm25_scores(a, q, max_df_ratio=1.0).collect()))
    sb = sorted(map(tuple, bm25_scores(b, q, max_df_ratio=1.0).collect()))
    assert sa == sb
