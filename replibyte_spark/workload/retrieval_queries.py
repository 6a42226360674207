"""Lexical retrieval gate (operators/retrieval.py): BM25 query-by-example
over the documents table, oracle-replayed end to end."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import dialect as D
from ..catalog import load_table
from . import Query, register

R_QUERY_MOD = 50    # doc_id % 50 == 0 -> query-by-example set
R_DEPTH = 10        # ranking depth
# 0.9, not the library default 0.5: the synthetic fixture's vocabulary is
# ~31 tokens over the whole corpus (median df 0.78), so a 0.5 cap leaves
# some query docs with NO surviving term at larger SFs (empty gate).  A
# real web corpus has a Zipf TAIL; the cap is exercised at 0.9 here and
# its drop-everything edge is unit-tested directly.
MAX_DF_RATIO = 0.9


def _bm25_oracle() -> str:
    """The DuckDB replay of bm25_topk: postings, Zipf-head df cap,
    sorted-fold scores, ranking."""
    from ..operators.retrieval import BM25_B, BM25_K1

    d = D.DUCK
    toks = D.split_ws(d, "lower(text)")
    k1, b = BM25_K1, BM25_B
    idf = "ln(((st.n - df.df) + 0.5) / (df.df + 0.5) + 1.0)"
    denom = (f"(p.tf + {k1} * ((1.0 - {b}) + {b} * "
             f"(CAST(l.dl AS DOUBLE) / (CAST(st.tot AS DOUBLE) / st.n))))")
    contrib = f"({idf}) * ((p.tf * ({k1} + 1.0)) / {denom})"
    return f"""
WITH tk AS (
  SELECT doc_id, unnest({toks}) AS token FROM documents
), post AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tk
  WHERE token <> '' GROUP BY doc_id, token
), lens AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM post GROUP BY doc_id
), st AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS tot
  FROM lens
), df AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY token
), qt AS (
  SELECT DISTINCT doc_id AS query_id, token FROM tk
  WHERE doc_id % {R_QUERY_MOD} = 0 AND token <> ''
), matched AS (
  SELECT q.query_id, p.doc_id, p.token, {contrib} AS v
  FROM qt q
  JOIN post p USING (token)
  JOIN df ON df.token = p.token
  JOIN lens l ON l.doc_id = p.doc_id
  CROSS JOIN st
  WHERE df.df <= CAST(floor({D.dlit(D.DUCK, MAX_DF_RATIO)} * st.n)
                      AS BIGINT)
), bscore AS (
  SELECT query_id, doc_id,
         round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(v ORDER BY token)), (a, x) -> a + x), 6) AS score
  FROM matched GROUP BY query_id, doc_id
), lex AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM bscore WHERE query_id <> doc_id
)
SELECT query_id, doc_id, score, CAST(rank AS INTEGER) AS rank
FROM lex WHERE rank <= {R_DEPTH} ORDER BY query_id, rank
"""


def bm25_doc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    qdocs = docs.filter(F.col("doc_id") % R_QUERY_MOD == 0)
    return (bm25_topk(docs, qdocs, k=R_DEPTH, max_df_ratio=MAX_DF_RATIO)
            .select("query_id", "doc_id", "score",
                    F.col("rank").cast("int").alias("rank")))


# driver-visible since round 10 (took the range-join row's slot): the
# lexical-retrieval family's highest-risk surface — postings,
# df cap, idf/length normalization, sorted-fold scores — all replayed by
# the oracle
register(Query("bm25_doc_topk", bm25_doc_topk, _bm25_oracle(),
               tags=("retrieval", "text")))

