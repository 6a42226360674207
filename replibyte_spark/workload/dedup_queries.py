"""Gate queries for the dedup family (exact, MinHash-LSH, SimHash, n-gram
Jaccard).  Oracle SQL is generated from the same dialect fragments the engine
compiles, so signatures, band keys and candidate sets agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import dialect as D
from ..catalog import load_table
from ..operators import dedup as DD
from . import Query, register

N_HASHES, BANDS, NGRAM = 12, 4, 3
JACCARD_T = 0.8


# --- exact dedup -----------------------------------------------------------

def dedup_exact_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (DD.exact_dedup(ev, ["user_id", "event_type"], "event_id")
            .orderBy("user_id", "event_type"))


DEDUP_EXACT_ORACLE = """
SELECT event_id, ts, user_id, event_type, value, props FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY event_id) AS rn
  FROM events
) WHERE rn = 1 ORDER BY user_id, event_type
"""

register(Query("dedup_exact_events", dedup_exact_events, DEDUP_EXACT_ORACLE,
               tags=("dedup",)))


# --- MinHash-LSH near-dup --------------------------------------------------

def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return DD.minhash_near_dup_pairs(docs, "doc_id", "text",
                                     threshold=JACCARD_T,
                                     n_hashes=N_HASHES, bands=BANDS, n=NGRAM)


def _minhash_ctes(src: str = "documents") -> str:
    """The shared CTE chain ending in `nd(id_a, id_b)` — verified near-dup
    pairs at JACCARD_T over relation `src`; reused by the pair gate, the
    clustering gates and the composite corpus pipeline."""
    d = D.DUCK
    grams = DD.word_ngrams_sql(d, "text", NGRAM)
    rows = N_HASHES // BANDS
    sig_cols = ", ".join(
        f"min({DD.minhash_sql(d, 'bh', i)}) AS h{i}" for i in range(N_HASHES)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS bk FROM sig".format(
            b=b,
            key=" || '|' || ".join(
                D.to_str(d, f"h{b * rows + r}") for r in range(rows)),
        )
        for b in range(BANDS)
    )
    return f"""ex AS (
  SELECT doc_id, unnest({grams}) AS gram FROM {src}
), bh AS (
  SELECT doc_id, gram, {DD.base_hash_sql(d, 'gram')} AS bh FROM ex
), sig AS (
  SELECT doc_id, {sig_cols} FROM bh GROUP BY doc_id
), bands AS (
  {band_selects}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
), shd AS (
  SELECT DISTINCT doc_id, gram FROM ex
), card AS (
  SELECT doc_id, count(*) AS c FROM shd GROUP BY doc_id
), inter AS (
  SELECT id_a, id_b, count(*) AS i
  FROM cand JOIN shd x ON x.doc_id = id_a JOIN shd y ON y.doc_id = id_b AND y.gram = x.gram
  GROUP BY id_a, id_b
), nd AS (
  SELECT id_a, id_b, round(i * 1.0 / (ca.c + cb.c - i), 6) AS jaccard
  FROM inter JOIN card ca ON ca.doc_id = id_a JOIN card cb ON cb.doc_id = id_b
  WHERE round(i * 1.0 / (ca.c + cb.c - i), 6) >= {JACCARD_T}
)"""


def _minhash_oracle() -> str:
    return (f"WITH {_minhash_ctes()}\n"
            f"SELECT id_a, id_b, jaccard FROM nd ORDER BY id_a, id_b")


register(Query("minhash_near_dup", minhash_near_dup, _minhash_oracle(),
               tags=("dedup", "lsh"), bench=True))


# --- near-dup clustering + canonical survivors ------------------------------

def near_dup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus dedup: keep one canonical doc per near-dup
    cluster, pass unpaired docs through."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = DD.minhash_near_dup_pairs(docs, "doc_id", "text",
                                      threshold=JACCARD_T,
                                      n_hashes=N_HASHES, bands=BANDS, n=NGRAM)
    return (DD.keep_canonical(docs, pairs, "doc_id")
            .select("doc_id", "lang", "source")
            .orderBy("doc_id"))


def _survivors_oracle() -> str:
    return f"""
WITH RECURSIVE {_minhash_ctes()}, nodes AS (
  SELECT id_a AS n FROM nd UNION SELECT id_b FROM nd
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM nd UNION ALL SELECT id_b, id_a FROM nd
), reach(node, root) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.root < e.dst
), labels AS (
  SELECT node, min(root) AS cluster_id FROM reach GROUP BY node
)
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT node FROM labels WHERE node <> cluster_id)
ORDER BY doc_id
"""


register(Query("near_dup_survivors", near_dup_survivors,
               _survivors_oracle(), tags=("dedup", "cluster")))


# --- SimHash signatures ----------------------------------------------------

# 64-bit signatures, Hamming ≤ 3 — the classic near-dup operating point
# (Charikar simhash as deployed in Manku et al., WWW'07).  16 bits collapses
# at corpus scale: at sf0.1 (5k docs) a 16-bit space made ~35% of ALL pairs
# "near-dup" and the pigeonhole buckets quadratic (92 s in the r3 bench);
# 64-bit blocks are ~16 bits wide, so buckets are near-singleton and the
# candidate join stays linear.
SIMHASH_BITS = 64
SIMHASH_MAX_HAMMING = 3


def simhash_signature_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (DD.simhash_signatures(docs, "doc_id", "text", SIMHASH_BITS)
            .orderBy("doc_id"))


def _simhash_oracle() -> str:
    d = D.DUCK
    toks = D.split_ws(d, "text")
    sums = ", ".join(
        f"sum({DD.simhash_bit_sql(d, 'tok', j)}) AS b{j}" for j in range(SIMHASH_BITS)
    )
    sig = " || ".join(
        f"(CASE WHEN b{j} > 0 THEN '1' ELSE '0' END)" for j in range(SIMHASH_BITS)
    )
    return f"""
WITH ex AS (
  SELECT doc_id, unnest({toks}) AS tok FROM documents
), s AS (
  SELECT doc_id, {sums} FROM ex GROUP BY doc_id
)
SELECT doc_id, {sig} AS simhash FROM s ORDER BY doc_id
"""


register(Query("simhash_signatures", simhash_signature_query, _simhash_oracle(),
               tags=("dedup",)), extra=True)


def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return DD.simhash_near_dup_pairs(docs, "doc_id", "text", SIMHASH_BITS,
                                     max_hamming=SIMHASH_MAX_HAMMING)


def _simhash_pairs_oracle() -> str:
    """STRONGER oracle than the engine's blocking: the full quadratic
    all-pairs Hamming check (feasible at sf0.01).  Pigeonhole blocking is
    complete for d ≤ max_hamming, so the results must agree exactly —
    this validates the semantics, not just the implementation."""
    d = D.DUCK
    toks = D.split_ws(d, "text")
    sums = ", ".join(
        f"sum({DD.simhash_bit_sql(d, 'tok', j)}) AS b{j}" for j in range(SIMHASH_BITS)
    )
    sig = " || ".join(
        f"(CASE WHEN b{j} > 0 THEN '1' ELSE '0' END)" for j in range(SIMHASH_BITS)
    )
    hamming = " + ".join(
        f"(CASE WHEN substr(a.simhash, {j + 1}, 1) <> substr(b.simhash, {j + 1}, 1) "
        f"THEN 1 ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    return f"""
WITH ex AS (
  SELECT doc_id, unnest({toks}) AS tok FROM documents
), s AS (
  SELECT doc_id, {sums} FROM ex GROUP BY doc_id
), sigs AS (
  SELECT doc_id, {sig} AS simhash FROM s
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST({hamming} AS BIGINT) AS hamming
FROM sigs a JOIN sigs b
  ON a.doc_id < b.doc_id
WHERE {hamming} <= {SIMHASH_MAX_HAMMING}
ORDER BY id_a, id_b
"""


register(Query("simhash_near_dup", simhash_near_dup, _simhash_pairs_oracle(),
               tags=("dedup",), bench=True))


# --- exact n-gram Jaccard pairs (ground truth) -----------------------------

def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5, n=NGRAM)


def _ngram_oracle() -> str:
    d = D.DUCK
    grams = DD.word_ngrams_sql(d, "text", NGRAM)
    return f"""
WITH ex AS (
  SELECT doc_id, unnest({grams}) AS gram FROM documents
), shd AS (
  SELECT DISTINCT doc_id, gram FROM ex
), card AS (
  SELECT doc_id, count(*) AS c FROM shd GROUP BY doc_id
), pairs AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM shd x JOIN shd y ON x.gram = y.gram AND x.doc_id < y.doc_id
), inter AS (
  SELECT id_a, id_b, count(*) AS i
  FROM pairs JOIN shd x ON x.doc_id = id_a JOIN shd y ON y.doc_id = id_b AND y.gram = x.gram
  GROUP BY id_a, id_b
)
SELECT id_a, id_b, round(i * 1.0 / (ca.c + cb.c - i), 6) AS jaccard
FROM inter JOIN card ca ON ca.doc_id = id_a JOIN card cb ON cb.doc_id = id_b
WHERE round(i * 1.0 / (ca.c + cb.c - i), 6) >= 0.5
ORDER BY id_a, id_b
"""


# EXTRA since r9: the exact shared-shingle Jaccard is the verification
# path whose arithmetic already runs inside minhash_near_dup's verify
# stage (jaccard_for_pairs); its driver slot went to nb_lang_classifier
# (the model-based-filter family, previously ungated).  Still
# oracle-checked every pytest run.
register(Query("ngram_jaccard_pairs", ngram_jaccard, _ngram_oracle(),
               tags=("dedup",)), extra=True)


# --- incremental dedup against a materialized MinHash index (round 7) -------

# agreement = fraction of equal signature components; 9/12 = 0.75 is exact
# in both engines (dyadic), so the >= comparison cannot straddle an ulp
MHI_THRESHOLD = 0.75
# corpus = docs with doc_id % 3 != 0 (indexed once); new batch = % 3 == 0
MHI_MOD = 3

_MHI_PATHS: dict[str, str] = {}


def _minhash_index_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Index the corpus slice ONCE per dataset content + parameters (the
    honest cost model: the index is curation-time output, the measured
    query is the incremental-batch path)."""
    import os
    import tempfile

    from .pipeline import _dataset_fingerprint
    from .similarity_queries import _build_cached_dir

    # v2: the r8 index layout adds the exact-fingerprint sidecar — the
    # version suffix invalidates r7-built cache dirs that lack it
    key = (sf_dir.strip("/").replace("/", "_") + "_"
           + _dataset_fingerprint(sf_dir, "documents")
           + f"_h{N_HASHES}b{BANDS}n{NGRAM}m{MHI_MOD}v2")
    path = _MHI_PATHS.get(key)
    if path is None:
        path = os.path.join(tempfile.gettempdir(), f"rs_mh_index_{key}")

        def build(tmp: str) -> None:
            corpus = (load_table(spark, sf_dir, "documents")
                      .filter(F.col("doc_id") % MHI_MOD != 0))
            DD.build_minhash_index(corpus, tmp, n_hashes=N_HASHES,
                                   bands=BANDS, n=NGRAM)

        _build_cached_dir(path, build)
        _MHI_PATHS[key] = path
    return path


def incremental_index_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagged (new doc, indexed corpus doc, signature agreement) pairs:
    the admit-step of incremental ingest, hashing ONLY the new batch and
    probing the stored band buckets (operators/dedup.py
    minhash_index_flagged_pairs).  The oracle recomputes BOTH sides from
    the raw table — proving the index path equals from-scratch."""
    path = _minhash_index_fixture(spark, sf_dir)
    new_batch = (load_table(spark, sf_dir, "documents")
                 .filter(F.col("doc_id") % MHI_MOD == 0))
    return DD.minhash_index_flagged_pairs(new_batch, path,
                                          threshold=MHI_THRESHOLD)


def _sig_band_ctes(p: str, where: str, src: str = "documents") -> str:
    """CTE chain {p}sig / {p}bands over `{src} WHERE {where}` (src must
    expose doc_id + text)."""
    d = D.DUCK
    grams = DD.word_ngrams_sql(d, "text", NGRAM)
    rows = N_HASHES // BANDS
    sig_cols = ", ".join(
        f"min({DD.minhash_sql(d, 'bh', i)}) AS h{i}" for i in range(N_HASHES))
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS bk FROM {p}sig".format(
            b=b, p=p,
            key=" || '|' || ".join(
                D.to_str(d, f"h{b * rows + r}") for r in range(rows)))
        for b in range(BANDS))
    return f"""{p}ex AS (
  SELECT doc_id, unnest({grams}) AS gram FROM {src} WHERE {where}
), {p}bh AS (
  SELECT doc_id, gram, {DD.base_hash_sql(d, 'gram')} AS bh FROM {p}ex
), {p}sig AS (
  SELECT doc_id, {sig_cols} FROM {p}bh GROUP BY doc_id
), {p}bands AS (
  {band_selects}
)"""


def _mhi_oracle() -> str:
    agree = " + ".join(f"CAST(a.h{i} = b.h{i} AS INT)"
                       for i in range(N_HASHES))
    return f"""
WITH {_sig_band_ctes('c', f'doc_id % {MHI_MOD} <> 0')},
{_sig_band_ctes('n', f'doc_id % {MHI_MOD} = 0')},
cand AS (
  SELECT DISTINCT nb.doc_id AS id_new, cb.doc_id AS id_corpus
  FROM nbands nb JOIN cbands cb ON nb.band = cb.band AND nb.bk = cb.bk
), ag AS (
  SELECT id_new, id_corpus,
         round(({agree}) / {N_HASHES}.0, 6) AS agreement
  FROM cand JOIN nsig a ON a.doc_id = id_new
            JOIN csig b ON b.doc_id = id_corpus
)
SELECT id_new, id_corpus, agreement FROM ag
WHERE agreement >= {MHI_THRESHOLD}
ORDER BY id_new, id_corpus
"""


# bench=True: the headline number IS the story — admitting the new batch
# probes the pre-built index (fixture built by the registered preparer,
# outside the timing loop) instead of re-shingling the corpus; compare
# minhash_near_dup, which recomputes the whole corpus every run.
# Driver-visible (round 8): the scale-amortization flagship of the r7
# incremental-ingest layer takes the REGISTRY slot of a redundant
# multimodal gate (a sibling of image_decode_stats, since retired).
register(Query("incremental_index_dedup", incremental_index_dedup,
               _mhi_oracle(), tags=("dedup", "index"), bench=True))


# --- exact-fingerprint tier of the incremental index (round 8) --------------

# the fixtures carry no cross-slice byte-identical docs at sf0.01, so the
# gate synthesizes a deterministic recrawl: copies of 10 already-indexed
# corpus docs re-arrive under shifted ids and must all be flagged
EXACT_SHIFT = 1_000_000


def exact_index_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ids flagged by the exact-fingerprint tier
    (operators/dedup.py exact_index_flagged_ids): one md5 per batch doc +
    one semi-join against the index's fingerprint sidecar — no shingling,
    no minhash.  The cheap first tier of `dedup_batch_against_index`."""
    path = _minhash_index_fixture(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    batch = (docs.filter(F.col("doc_id") % MHI_MOD == 0)
             .select("doc_id", "text")
             .unionByName(
                 docs.filter((F.col("doc_id") % MHI_MOD == 1)
                             & (F.col("doc_id") < 30))
                 .select((F.col("doc_id") + EXACT_SHIFT).alias("doc_id"),
                         "text")))
    return DD.exact_index_flagged_ids(batch, path).orderBy("doc_id")


def _exact_index_oracle() -> str:
    from ..functions.text import fingerprint_sql

    d = D.DUCK
    return f"""
WITH cfp AS (
  SELECT DISTINCT {fingerprint_sql(d, 'text')} AS fingerprint
  FROM documents WHERE doc_id % {MHI_MOD} <> 0
), batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {MHI_MOD} = 0
  UNION ALL
  SELECT doc_id + {EXACT_SHIFT}, text FROM documents
  WHERE doc_id % {MHI_MOD} = 1 AND doc_id < 30
)
SELECT DISTINCT b.doc_id FROM batch b
JOIN cfp ON {fingerprint_sql(d, 'b.text')} = cfp.fingerprint
ORDER BY doc_id
"""


register(Query("exact_index_dedup", exact_index_dedup,
               _exact_index_oracle(), tags=("dedup", "index")), extra=True)


from . import register_fixture_preparer  # noqa: E402


@register_fixture_preparer
def _prepare_minhash_index_fixture(spark: SparkSession, sf_dir: str) -> None:
    _minhash_index_fixture(spark, sf_dir)


# --- composed three-tier incremental admit (round 9) -------------------------
# The actual 100 TB ingest path a user runs per arriving batch: exact
# fingerprint -> MinHash band probe -> embedding admit, chained against all
# three sidecars (operators/ingest.py).  The r8 pieces were gated
# separately; this gates the COMPOSITION, including the tier precedence
# (a doc rejected by a cheap tier never reaches an expensive one).
#
# Batch construction pairs documents with embeddings by id (the fixture's
# vec_id range equals the doc_id range) and engineers one slice per tier:
#   +1M: byte-identical recrawls of indexed docs        -> 'exact'
#   +2M: novel text carrying an INDEXED doc's embedding -> 'semantic'
#   +3M: indexed text with one appended word (fingerprint differs, most
#        shingles shared) -> 'lexical' for most docs (agreement is
#        deterministic per doc; the few below 0.75 fall through and flag
#        'semantic' via their unchanged embedding — the oracle reproduces
#        whichever tier catches each doc)
FA_EXACT_SHIFT, FA_SEM_SHIFT, FA_LEX_SHIFT = 1_000_000, 2_000_000, 3_000_000
FA_SEM_T = 0.45        # matches the fixture's natural cosine range
# embeddings fixture width — asserted equal to similarity_queries.EMB_DIM
# in tests (module-level import there would reorder query registration)
FA_DIM = 64

from ..operators import similarity as S  # noqa: E402

# (bits, multi_probe) from the r9 hyperplane picker — same contract as the
# embedding_index_admit gate: 0.8 recall at cosine 0.9, min candidate rate
FA_BITS, FA_PROBE = S.pick_rp_params(0.9, 0.8)

_FA_ANN_PATHS: dict[str, str] = {}


def _fa_ann_index(spark: SparkSession, sf_dir: str) -> str:
    """ANN index over the corpus slice's embeddings, keyed by doc id (the
    composed gate's semantic sidecar; built once per dataset+params)."""
    import os
    import tempfile

    from .pipeline import _dataset_fingerprint
    from .similarity_queries import _build_cached_dir

    key = (sf_dir.strip("/").replace("/", "_") + "_"
           + _dataset_fingerprint(sf_dir, "embeddings")
           + f"_fa{FA_BITS}m{MHI_MOD}")
    path = _FA_ANN_PATHS.get(key)
    if path is None:
        path = os.path.join(tempfile.gettempdir(), f"rs_fa_ann_{key}")

        def build(tmp: str) -> None:
            corpus = (load_table(spark, sf_dir, "embeddings")
                      .filter(F.col("vec_id") % MHI_MOD != 0)
                      .select(F.col("vec_id").alias("doc_id"), "embedding"))
            S.build_ann_index(corpus, tmp, bits=FA_BITS, id_col="doc_id",
                              dim=FA_DIM)

        _build_cached_dir(path, build)
        _FA_ANN_PATHS[key] = path
    return path


def _fa_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = (load_table(spark, sf_dir, "embeddings")
           .select(F.col("vec_id").alias("doc_id"), "embedding"))
    base = docs.join(emb, "doc_id")
    m = F.col("doc_id") % MHI_MOD
    nat = base.filter(m == 0)
    ex = (base.filter((m == 1) & (F.col("doc_id") < 30))
          .select((F.col("doc_id") + FA_EXACT_SHIFT).alias("doc_id"),
                  "text", "embedding"))
    sem = (base.filter((m == 1) & (F.col("doc_id") >= 30)
                       & (F.col("doc_id") < 60))
           .select((F.col("doc_id") + FA_SEM_SHIFT).alias("doc_id"),
                   F.expr("concat('qzv novel document ', "
                          "CAST(doc_id AS STRING), ' wvu xost')")
                   .alias("text"),
                   "embedding"))
    lex = (base.filter((m == 1) & (F.col("doc_id") >= 60)
                       & (F.col("doc_id") < 90))
           .select((F.col("doc_id") + FA_LEX_SHIFT).alias("doc_id"),
                   F.expr("concat(text, ' zzqx')").alias("text"),
                   "embedding"))
    return nat.unionByName(ex).unionByName(sem).unionByName(lex)


def full_incremental_admit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch-doc disposition through the composed admit pipeline
    (operators/ingest.py full_incremental_admit_decisions): which tier
    rejected it, or 'admitted'.  The oracle recomputes every tier AND the
    tier precedence from the raw tables."""
    from ..operators.ingest import full_incremental_admit_decisions
    from ..util import materialize

    mh = _minhash_index_fixture(spark, sf_dir)
    ann = _fa_ann_index(spark, sf_dir)
    # the batch lineage (documents ⋈ embeddings, 4 union branches) is
    # exactly the "expensive batch lineage — checkpoint it yourself"
    # case the operator documents: unpinned it re-evaluates once per
    # tier (measured 3.3 s → 2.0 s at sf0.1)
    batch = materialize(_fa_batch(spark, sf_dir))
    return (full_incremental_admit_decisions(
        batch, mh, ann,
        lexical_threshold=MHI_THRESHOLD, semantic_threshold=FA_SEM_T,
        multi_probe=FA_PROBE)
        .orderBy("doc_id"))


def _fa_oracle() -> str:
    from ..functions.text import fingerprint_sql

    d = D.DUCK
    agree = " + ".join(f"CAST(a.h{i} = b2.h{i} AS INT)"
                       for i in range(N_HASHES))
    bucket = S.rp_bucket_sql(d, "embedding", FA_BITS, "rp", dim=FA_DIM)
    probes = ", ".join(S.probe_bucket_exprs(d, "bucket", FA_BITS, FA_PROBE))
    cos = S.cosine_sql(d, "p.embedding", "c.embedding")
    join = "JOIN embeddings e ON e.vec_id = d.doc_id"
    return f"""
WITH batch AS (
  SELECT d.doc_id, d.text, e.embedding FROM documents d {join}
  WHERE d.doc_id % {MHI_MOD} = 0
  UNION ALL
  SELECT d.doc_id + {FA_EXACT_SHIFT}, d.text, e.embedding
  FROM documents d {join}
  WHERE d.doc_id % {MHI_MOD} = 1 AND d.doc_id < 30
  UNION ALL
  SELECT d.doc_id + {FA_SEM_SHIFT},
         'qzv novel document ' || CAST(d.doc_id AS VARCHAR) || ' wvu xost',
         e.embedding
  FROM documents d {join}
  WHERE d.doc_id % {MHI_MOD} = 1 AND d.doc_id >= 30 AND d.doc_id < 60
  UNION ALL
  SELECT d.doc_id + {FA_LEX_SHIFT}, d.text || ' zzqx', e.embedding
  FROM documents d {join}
  WHERE d.doc_id % {MHI_MOD} = 1 AND d.doc_id >= 60 AND d.doc_id < 90
), cfp AS (
  SELECT DISTINCT {fingerprint_sql(d, 'text')} AS fingerprint
  FROM documents WHERE doc_id % {MHI_MOD} <> 0
), exact_f AS (
  SELECT DISTINCT b.doc_id FROM batch b
  JOIN cfp ON {fingerprint_sql(d, 'b.text')} = cfp.fingerprint
), surv1 AS (
  SELECT * FROM batch
  WHERE doc_id NOT IN (SELECT doc_id FROM exact_f)
), {_sig_band_ctes('c', f'doc_id % {MHI_MOD} <> 0')},
{_sig_band_ctes('n', 'TRUE', src='surv1')},
lexcand AS (
  SELECT DISTINCT nb.doc_id AS id_new, cb.doc_id AS id_corpus
  FROM nbands nb JOIN cbands cb ON nb.band = cb.band AND nb.bk = cb.bk
), lex_f AS (
  SELECT DISTINCT id_new AS doc_id
  FROM lexcand JOIN nsig a ON a.doc_id = id_new
               JOIN csig b2 ON b2.doc_id = id_corpus
  WHERE round(({agree}) / {N_HASHES}.0, 6) >= {MHI_THRESHOLD}
), surv2 AS (
  SELECT * FROM surv1
  WHERE doc_id NOT IN (SELECT doc_id FROM lex_f)
), ecorp AS (
  SELECT vec_id AS id_corpus, embedding, {bucket} AS bucket
  FROM embeddings WHERE vec_id % {MHI_MOD} <> 0
), bb AS (
  SELECT doc_id AS id_new, embedding, {bucket} AS bucket FROM surv2
), eprobes AS (
  SELECT id_new, embedding, unnest([{probes}]) AS bucket FROM bb
), sem_f AS (
  SELECT DISTINCT p.id_new AS doc_id
  FROM eprobes p JOIN ecorp c USING (bucket)
  WHERE {cos} >= {FA_SEM_T}
)
SELECT doc_id, decision FROM (
  SELECT doc_id, 'exact' AS decision FROM exact_f
  UNION ALL SELECT doc_id, 'lexical' FROM lex_f
  UNION ALL SELECT doc_id, 'semantic' FROM sem_f
  UNION ALL SELECT doc_id, 'admitted' FROM surv2
  WHERE doc_id NOT IN (SELECT doc_id FROM sem_f)
) ORDER BY doc_id
"""


# bench=True: the headline ingest number — one batch admitted against
# both prebuilt sidecars, cold-time attributed.
register(Query("full_incremental_admit", full_incremental_admit_q,
               _fa_oracle(), tags=("dedup", "similarity", "index",
                                   "pipeline"), bench=True))


@register_fixture_preparer
def _prepare_fa_ann_index(spark: SparkSession, sf_dir: str) -> None:
    _fa_ann_index(spark, sf_dir)


# --- sketch-based source-overlap estimation (round 9) -----------------------
# MinHash signatures per SOURCE estimate pairwise shingle-set Jaccard from
# one corpus scan; the exact quadratic path rides along at gate scale as
# the accuracy reference (operators/sketch.py module docstring).

OVERLAP_HASHES = 16


def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import group_overlap_matrix

    docs = load_table(spark, sf_dir, "documents")
    return group_overlap_matrix(docs, "source", "text",
                                n_hashes=OVERLAP_HASHES, n=NGRAM,
                                exact=True)


def _overlap_oracle() -> str:
    d = D.DUCK
    grams = DD.word_ngrams_sql(d, "text", NGRAM)
    base = DD.base_hash_sql(d, "gram")
    mins = ",\n         ".join(
        f"min({DD.minhash_sql(d, 'bh', i)}) AS h{i}"
        for i in range(OVERLAP_HASHES))
    agree = " + ".join(
        f"(CASE WHEN x.h{i} = y.h{i} THEN 1 ELSE 0 END)"
        for i in range(OVERLAP_HASHES))
    return f"""
WITH ex AS (
  SELECT source, unnest({grams}) AS gram FROM documents
), hashed AS (
  SELECT source, {base} AS bh FROM ex
), sigs AS (
  SELECT source, {mins}
  FROM hashed GROUP BY source
), est AS (
  SELECT x.source AS a, y.source AS b,
         round(({agree}) / {float(OVERLAP_HASHES)}, 6) AS est_jaccard
  FROM sigs x JOIN sigs y ON x.source < y.source
), shd AS (
  SELECT DISTINCT source, gram FROM ex
), card AS (
  SELECT source, CAST(count(*) AS BIGINT) AS c FROM shd GROUP BY source
), inter AS (
  SELECT x.source AS a, y.source AS b, CAST(count(*) AS BIGINT) AS i
  FROM shd x JOIN shd y ON x.gram = y.gram AND x.source < y.source
  GROUP BY x.source, y.source
), exact AS (
  SELECT ca.source AS a, cb.source AS b,
         CASE WHEN ca.c + cb.c - coalesce(i.i, 0) > 0
              THEN round(coalesce(i.i, 0) * 1.0
                         / (ca.c + cb.c - coalesce(i.i, 0)), 6) END
           AS jaccard
  FROM card ca JOIN card cb ON ca.source < cb.source
  LEFT JOIN inter i ON i.a = ca.source AND i.b = cb.source
)
SELECT e.a, e.b, e.est_jaccard, x.jaccard
FROM est e LEFT JOIN exact x ON x.a = e.a AND x.b = e.b
ORDER BY e.a, e.b
"""


# driver-visible (r9): dataset-overlap estimation takes the slot of
# q5_region_volume (multi-join agg surface already gated via q3 +
# revenue_rollup; q5 stays oracle-checked in EXTRA).
# bench=True (r14): the exact path was rewritten this round (gram
# self-join → bucket expansion, 0.40× at 8c) — benching it keeps the
# rewrite's cost driver-visible (the bench contract allows ADDING rows)
register(Query("source_overlap_sketch", source_overlap, _overlap_oracle(),
               tags=("dedup", "sketch"), bench=True))
