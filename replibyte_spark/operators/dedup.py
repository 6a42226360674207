"""Deduplication family — exact, MinHash-LSH, SimHash, n-gram Jaccard.

The reference's dedup is a per-statement spill-to-disk set keyed by
md5(db-table) with linear probing (/root/reference/subset/src/dedup.rs:9-63) —
exact dedup only, single-node.  This module generalizes it into the dedup
operators a 100 TB training-data pipeline needs (BASELINE.json north star):

- :func:`exact_dedup` — hash-groupBy; one shuffle, map-side partial agg.
- :func:`minhash_signatures` / :func:`minhash_near_dup_pairs` — shingle →
  minhash → banded LSH bucket join → verified Jaccard.  The shuffle is on
  band keys (small), candidate verification touches only bucket-collision
  pairs — never the full cross product.
- :func:`simhash_signatures` — frequency-weighted n-bit signature; near-dup
  via pigeonhole block join (complete for Hamming ≤ max_hamming).
- :func:`ngram_jaccard_pairs` — exact pairwise Jaccard via shared-shingle
  join (quadratic in colliding docs; the LSH path is the scale path, this is
  the ground-truth/verification path).

Every hash is md5-derived through the shared dialect builder, so the DuckDB
oracle replicates signatures and candidate sets bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T_

from .. import dialect as D
from ..util import (CACHED, fan_out, hadoop_exists, materialize,
                    reads_cached, release)

# ---------------------------------------------------------------------------
# shared cross-dialect expression fragments
# ---------------------------------------------------------------------------


def word_ngrams_from_tokens_sql(d: str, toks: str, n: int = 3) -> str:
    """List of word n-grams from a token-array expression.  Pass a simple
    column reference as `toks` when possible — a complex expression would be
    re-evaluated once per element access inside the lambda."""
    joined = " || ' ' || ".join(
        (f"element_at({toks}, i + {k})" if d == D.SPARK else f"{toks}[i + {k}]")
        for k in range(n)
    )
    if d == D.SPARK:
        # sequence(1, 0) is DESCENDING [1, 0] in Spark (it is empty in
        # DuckDB), so guard the short-document case explicitly or texts with
        # fewer than n tokens crash with INVALID_INDEX_OF_ZERO
        return (f"CASE WHEN size({toks}) >= {n} THEN "
                f"transform(sequence(1, size({toks}) - {n - 1}), i -> {joined}) "
                f"ELSE array() END")
    return (f"list_transform(generate_series(1, greatest(len({toks}) - {n - 1}, 0)), "
            f"i -> {joined})")


def word_ngrams_sql(d: str, text: str, n: int = 3) -> str:
    """List of word n-grams of `text` (whitespace-tokenized)."""
    return word_ngrams_from_tokens_sql(d, D.split_ws(d, text), n)


MERSENNE31 = 2147483647  # 2^31-1: (a·x + b) stays < 2^62, exact in BIGINT

# fixed odd multipliers / offsets for the hash family (baked into SQL text so
# both engines compute the identical family)
_MINHASH_A = [1103515245, 1299709, 15485863, 32452843, 49979687, 67867967,
              86028121, 104395301, 122949823, 141650939, 160481183, 179424673,
              198491317, 217645177, 236887691, 256203161]


def base_hash_sql(d: str, gram: str) -> str:
    """ONE md5 per shingle reduced to an int in [0, 2^31-1); the 16-digit
    decimal prefix fits BIGINT exactly in both engines."""
    return (f"(CAST(translate(substr(md5({gram}), 1, 15), 'abcdef', '123456') "
            f"AS BIGINT) % {MERSENNE31})")


def minhash_sql(d: str, base: str, i: int) -> str:
    """The i-th hash: affine mix of the shared base hash modulo 2^31-1.
    Computing 12-16 mixes of one md5 is ~12× cheaper than 12-16 independent
    md5 calls per shingle — the difference between a CPU-bound and an
    IO-bound signature pass at 100 TB.

    Hard cap at len(_MINHASH_A) hashes: wrapping the multiplier (the old
    `i % 16`) made hash i+16 a constant shift of hash i — perfectly
    correlated rows that silently void the banded-LSH independence math
    while looking like extra discrimination."""
    if i >= len(_MINHASH_A):
        raise ValueError(
            f"minhash_sql supports at most {len(_MINHASH_A)} independent "
            f"hashes (got index {i}); extend _MINHASH_A with new odd "
            f"multipliers rather than reusing existing ones")
    a = _MINHASH_A[i]
    return f"((({a} * {base}) + {2 * i + 1}) % {MERSENNE31})"


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep one row per key: the FULL row with the smallest `order_col`
    (ties on `order_col` pick an arbitrary winner among the tied rows).

    Semantics of the reference's emitted-set check (dedup.rs:9-63) — first
    occurrence wins — expressed as a single hash aggregation (one shuffle,
    map-side combine) instead of a driver-side set.  Non-key payload columns
    ride along in one `min_by` struct so the winner's values stay together.
    """
    other = [c for c in df.columns if c not in key_cols and c != order_col]
    aggs = [F.min(order_col).alias(order_col)]
    if other:
        aggs.append(F.min_by(F.struct(*[F.col(c) for c in other]),
                             F.col(order_col)).alias("__win"))
    out = df.groupBy(*key_cols).agg(*aggs)
    if other:
        out = out.select(*[
            F.col(c) if (c in key_cols or c == order_col)
            else F.col(f"__win.{c}").alias(c)
            for c in df.columns])
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _exploded_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, gram) one row per shingle occurrence.

    Tokenization is materialized into a column FIRST: the n-gram lambda then
    indexes the token array instead of re-running the regex split once per
    element access (3n splits/row otherwise — the dominant cost of the naive
    single-expression form)."""
    toks = F.expr(D.split_ws(D.SPARK, text_col))
    with_toks = fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), toks.alias("__toks"))
    grams = F.expr(word_ngrams_from_tokens_sql(D.SPARK, "__toks", n))
    return with_toks.select(F.col(id_col), F.explode(grams).alias("gram"))


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       n_hashes: int = 12, n: int = 3) -> DataFrame:
    """id → h0..h{n_hashes-1} minhash signature columns.

    min() is idempotent over duplicates, so no distinct before aggregation —
    the explode feeds straight into a partial-agg groupBy (one shuffle).
    """
    exploded = (_exploded_grams(df, id_col, text_col, n)
                .withColumn("bh", F.expr(base_hash_sql(D.SPARK, "gram"))))
    aggs = [F.min(F.expr(minhash_sql(D.SPARK, "bh", i))).alias(f"h{i}")
            for i in range(n_hashes)]
    return exploded.groupBy(id_col).agg(*aggs)


def lsh_band_keys(sig: DataFrame, id_col: str, bands: int, rows: int,
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """(id, *carry, band, band_key) — one md5 key per band of `rows`
    signature rows.

    All bands come from ONE explode over an inline array, so the signature
    subtree appears once in the plan (a per-band union would recompute the
    aggregation once per band).  `carry` forwards extra signature columns
    through the explode — lets a consumer keep the signature values next to
    the band keys without a second reference to the signature subtree
    (which Spark would recompute or force the caller to persist)."""
    entries = []
    for b in range(bands):
        cols = [f"h{b * rows + r}" for r in range(rows)]
        key = F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols]))
        entries.append(F.struct(F.lit(b).alias("band"), key.alias("band_key")))
    return (sig.select(F.col(id_col), *[F.col(c) for c in carry],
                       F.explode(F.array(*entries)).alias("e"))
            .select(F.col(id_col), *[F.col(c) for c in carry],
                    F.col("e.band").alias("band"),
                    F.col("e.band_key").alias("band_key")))


def upper_triangle_pairs(buckets: DataFrame, arr_col: str, a_name: str,
                         b_name: str,
                         carry: tuple[str, ...] = ()) -> DataFrame:
    """Strict upper-triangle (i < j) pair expansion of a sorted array
    column, as TWO chained generators: ``posexplode`` emits each left
    element with its index, then a second ``explode`` of that row's tail
    slice emits its partners.

    Equivalent pair set to the r14 single-expression shape
    ``explode(flatten(transform(arr, (x, i) -> transform(slice(...), ...))))``
    with one crucial difference at scale (r14 verdict #1): that
    expression builds the ENTIRE O(n²) pair array of a bucket inside one
    row buffer while the flatten evaluates — a single hot bucket of 1e5
    ids is 5e9 structs in one task allocation, an executor OOM no config
    survives.  Here level 1 emits n rows that each carry the bucket
    array once (per-row memory O(n)) and level 2 slices the tail per
    row; both Generates pipeline inside one codegen stage, so pairs
    STREAM into the consumer exactly like the old self-join did — still
    no join, no second subtree evaluation, no quadratic allocation.
    Total streamed bytes stay O(n²) per bucket (that is the size of the
    pair set itself); peak memory drops from O(n²) to O(n).

    `posexplode` is 0-based while `slice` is 1-based, so the tail of
    element i starts at slice position i + 2.  The last element's slice
    is empty and `explode` drops it — a singleton bucket yields nothing,
    so callers' `size(arr) > 1` pre-filters remain an optimization, not
    a correctness requirement.

    Raises ValueError when `buckets` already has a column named ``__i``
    (the internal position alias), `a_name` or `b_name`."""
    clash = ({"__i", a_name.lower(), b_name.lower()}
             & {c.lower() for c in buckets.columns})
    if clash:
        raise ValueError(
            f"upper_triangle_pairs: buckets already has column(s) "
            f"{sorted(clash)} that the pair expansion would shadow")
    arr = "`" + arr_col.replace("`", "``") + "`"
    lvl1 = buckets.select(
        *[F.col(c) for c in carry], F.col(arr_col),
        F.posexplode(F.col(arr_col)).alias("__i", a_name))
    tail = F.expr(f"slice({arr}, __i + 2, size({arr}) - __i - 1)")
    return lvl1.select(*[F.col(c) for c in carry], F.col(a_name),
                       F.explode(tail).alias(b_name))


def minhash_candidate_pairs(df: DataFrame, id_col: str, text_col: str,
                            n_hashes: int = 12, bands: int = 4,
                            n: int = 3) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one LSH band bucket.

    Pair generation is a groupBy + in-bucket expansion, NOT a band-key
    self-join (r14): a self-join references the scan → shingle → hash →
    aggregate subtree from both sides, and AQE materializes it once PER
    SIDE (two identical full-input map stages in the executed plan — at
    100 TB, two corpus tokenizations).  An eager checkpoint of the
    signature frame fixes the double evaluation but measured SLOWER at
    sf0.1 (min-of-5 3.70 s → 4.80 s: the materialization barrier costs
    more than the recompute saves).  Grouping each (band, band_key)
    bucket and expanding the sorted id array's upper triangle evaluates
    the subtree ONCE and shuffles once where the join shuffled twice;
    ids are unique per bucket by construction (one signature row per id),
    so the strict upper triangle is exactly the id_a < id_b pair set."""
    rows = n_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n_hashes, n)
    bk = lsh_band_keys(sig, id_col, bands, rows)
    buckets = (bk.groupBy("band", "band_key")
               .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
               .filter(F.size("ids") > 1))
    # two-level expansion (r15): streams the triangle with O(|bucket|)
    # per-row memory instead of materializing the O(|bucket|²) pair
    # array in one row buffer — see upper_triangle_pairs
    return (upper_triangle_pairs(buckets, "ids", "id_a", "id_b")
            .distinct())


def jaccard_for_pairs(pairs: DataFrame, sh: DataFrame, id_col: str) -> DataFrame:
    """True Jaccard for candidate pairs via the distinct shingle sets.

    `sh` is aggregated to ONE gram-array row per doc (collect_set — set
    semantics, so a pre-distinct'ed input is not required) and the pair
    frame joins that aggregate twice; the intersection is a per-row
    array_intersect, no shuffle.  The previous shape — separate
    per-gram join rows for each side plus a cardinality aggregate —
    referenced the `sh` subtree FOUR times (xa, xb, ca, cb: four
    identical full-input map stages, 0.5-1.3 s each in the sf0.1
    training_corpus_pipeline attribution) and paid a groupBy shuffle of
    the exploded pair×gram rows for the intersection.  This shape
    evaluates `sh` twice, shuffles grams only in the two per-doc
    aggregates, and turns the intersection into map-side array work.
    Fan-out note: a doc in many candidate pairs carries its gram array
    once per pair — bounded because candidates ≪ corpus by LSH design."""
    gd = sh.groupBy(id_col).agg(F.collect_set("gram").alias("grams"))
    ga = gd.select(F.col(id_col).alias("id_a"), F.col("grams").alias("ga"))
    gb = gd.select(F.col(id_col).alias("id_b"), F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    return (pairs.join(ga, "id_a").join(gb, "id_b")
            .withColumn("jaccard", F.round(
                inter / (F.size("ga") + F.size("gb") - inter), 6))
            .select("id_a", "id_b", "jaccard"))


def minhash_near_dup_pairs(df: DataFrame, id_col: str, text_col: str,
                           threshold: float = 0.8, n_hashes: int = 12,
                           bands: int = 4, n: int = 3) -> DataFrame:
    """LSH candidates filtered by true Jaccard ≥ threshold.

    Two-phase design sized for scale:
    1. signatures from the raw shingle explode — the min() aggregation is
       map-side partial, so the (huge) gram stream is never shuffled;
    2. verification shingle sets materialized ONLY for docs that appear in
       a candidate pair (candidates ≪ corpus), via a semi-join before the
       distinct — the expensive distinct shuffle touches a sliver of data.

    jaccard_for_pairs references the candidate-gram subtree once per join
    side.  Over parquet, AQE's stage cache runs it once; when `df` reads
    through a cache (:func:`~replibyte_spark.util.reads_cached`, e.g. the
    training pipeline's scored frame) that reuse breaks and the
    corpus-sized semi-join probe would run twice, so the candidates-only
    (id, text) sliver is checkpointed once instead."""
    # eager localCheckpoint, not a bare persist: the pair frame feeds BOTH
    # the candidate-id semi-join and the Jaccard join, and a lazily
    # persisted frame would race its own fill from two consumer stages.
    # The returned plan references it, so the caller's released() scope
    # frees it.
    pairs = materialize(minhash_candidate_pairs(df, id_col, text_col,
                                                n_hashes, bands, n))
    cand_ids = (pairs.select(F.col("id_a").alias(id_col))
                .unionAll(pairs.select(F.col("id_b").alias(id_col)))
                .distinct())
    cand_docs = df.join(cand_ids, on=id_col, how="leftsemi")
    if reads_cached(df):
        cand_docs = materialize(cand_docs.select(id_col, text_col))
    # raw exploded grams, NOT a distinct set: jaccard_for_pairs aggregates
    # with collect_set, which dedups for free — the separate distinct
    # shuffle (and its AQE-coalesced single-task reduce, 0.7 s in the
    # sf0.1 pipeline attribution) would be pure overhead inside a
    # subtree jaccard_for_pairs evaluates twice.  An eager checkpoint of
    # the exploded-gram subtree was also tried (r14) and measured SLOWER
    # at sf0.1 (the barrier outweighs a candidates-only recompute) — left
    # lazy; the cached-input sliver checkpoint above is the narrower cut.
    sh = _exploded_grams(cand_docs, id_col, text_col, n)
    return (jaccard_for_pairs(pairs, sh, id_col)
            .filter(F.col("jaccard") >= threshold)
            .orderBy("id_a", "id_b"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_bit_sql(d: str, tok: str, j: int) -> str:
    """±1 contribution of a token to signature bit j (md5 hex-digit parity).

    One md5 yields 32 hex digits = 32 bits, so bit j draws digit j%32 from
    md5 number j//32 (salt-differentiated) — 64-bit signatures cost exactly
    two md5 evaluations per token (both engines CSE the repeated call)."""
    grp, pos = divmod(j, 32)
    return (f"CASE WHEN substr(md5('s{grp}:' || {tok}), {pos + 1}, 1) "
            f"IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END")


def simhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       bits: int = 64) -> DataFrame:
    """Frequency-weighted SimHash: bit j = sign of Σ_tokens ±1.

    One explode + one groupBy with `bits` sum aggregates — a single shuffle
    with map-side partial sums, no UDF.
    """
    toks = F.expr(D.split_ws(D.SPARK, text_col))
    n_groups = (bits + 31) // 32
    # materialize each token's md5 hex ONCE per 32-bit group before the
    # aggregation: the per-bit sum expressions are then plain substring
    # parities.  (Inlining md5 into all `bits` aggregate expressions defeats
    # codegen CSE across aggregates — 64 md5/token, 8 s at sf0.1.)
    exploded = (fan_out(df)
                .select(F.col(id_col), F.explode(toks).alias("tok"))
                .select(F.col(id_col),
                        *[F.md5(F.concat(F.lit(f"s{g}:"), F.col("tok")))
                          .alias(f"h{g}") for g in range(n_groups)]))
    aggs = [
        F.sum(F.when(F.substring(f"h{j // 32}", j % 32 + 1, 1)
                     .isin(*"89abcdef"), 1).otherwise(-1)).alias(f"b{j}")
        for j in range(bits)
    ]
    summed = exploded.groupBy(id_col).agg(*aggs)
    sig = F.concat(*[F.when(F.col(f"b{j}") > 0, "1").otherwise("0")
                     for j in range(bits)])
    return summed.select(F.col(id_col), sig.alias("simhash"))


def simhash_block_bounds(bits: int, max_hamming: int) -> list[tuple[int, int]]:
    """(start, length) 1-based substring bounds splitting a `bits`-char
    signature into `max_hamming + 1` nearly-equal blocks."""
    n_blocks = max_hamming + 1
    bounds, start = [], 1
    for b in range(n_blocks):
        length = bits // n_blocks + (1 if b < bits % n_blocks else 0)
        bounds.append((start, length))
        start += length
    return bounds


def simhash_pairs_from_signatures(sig: DataFrame, id_col: str,
                                  bits: int = 64,
                                  max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs (Hamming ≤ max_hamming) from an (id, simhash) frame.

    Pigeonhole blocking — COMPLETE for the contract, unlike prefix blocking:
    the signature splits into `max_hamming + 1` blocks, so any pair within
    distance `max_hamming` has at least one identical block (at most
    `max_hamming` blocks can contain a differing bit).  Candidates are pairs
    sharing any (block_idx, block_value); the exact Hamming filter then
    removes false positives.  Join fan-out stays linear in block-bucket
    sizes — the scale path for SimHash dedup.
    """
    bounds = simhash_block_bounds(bits, max_hamming)
    n_blocks = len(bounds)
    if any(ln > 63 for _, ln in bounds):
        # a block of 64+ bits (e.g. bits=64 with max_hamming=0) overflows
        # the BIGINT packing below — conv() values >= 2^63 cast to NULL (or
        # raise under ANSI), silently dropping candidate pairs.  Take the
        # wide-block path: string block equality + 63-bit hamming words.
        return _simhash_pairs_wide_blocks(sig, id_col, bits, max_hamming,
                                          bounds)
    # Pack each block into an INTEGER word once per doc: per-candidate work
    # then drops from `bits` substring comparisons to n_blocks xor +
    # bit_count ops, and block equality is a single long compare.  On a
    # corpus whose signatures cluster (similar token distributions → hot
    # block buckets → 436k candidates from 5k docs at sf0.1), the
    # per-candidate constant IS the query: this rewrite + the
    # first-matching-block canonicalization below measured 10.5s → [see
    # SCALE.md] for the pair stage.
    words = sig.select(
        F.col(id_col),
        *[F.expr(f"CAST(conv(substring(simhash, {s}, {ln}), 2, 10) AS BIGINT)")
          .alias(f"w{i}") for i, (s, ln) in enumerate(bounds)])
    # hamming words ARE the block words here — _pigeonhole_pairs carries
    # each column once, so the fast-path plan is unchanged
    return _pigeonhole_pairs(words, id_col, n_blocks,
                             [f"w{i}" for i in range(n_blocks)], max_hamming)


def _pigeonhole_pairs(words: DataFrame, id_col: str, n_blocks: int,
                      ham_cols: list, max_hamming: int) -> DataFrame:
    """Shared candidate generation for both SimHash block layouts: group
    each (block index, block value) bucket, expand the sorted bucket's
    strict upper triangle, first-matching-block canonicalization, exact
    Hamming filter.

    `words` carries the id, the block-value columns w0..w{n_blocks-1}
    (BIGINT in the packed fast path, bit-substrings in the wide path) and
    the Hamming word columns `ham_cols` (the same w-columns in the fast
    path; separate 63-bit h-columns in the wide path — each column is
    carried exactly once either way).

    Bucket expansion, NOT a (blk, bv) self-join (late r14, the
    minhash/ngram/overlap pair-generation rewrite applied to the last
    remaining self-join): the join referenced the signature aggregate
    from BOTH sides, which forced simhash_near_dup_pairs to eagerly
    checkpoint it (a barrier) and re-checkpoint after fan_out.  Grouping
    each bucket's struct(id, words) array — `array_sort` orders by the
    leading id field, so the strict upper triangle IS the id_a < id_b
    pair set — references the signature subtree ONCE: no checkpoint, no
    join machinery, pair generation is map-side work after one tiny
    keyed shuffle (one ~(id + words) row per doc per block).  A hot
    bucket expands its pairs inside one task, exactly where the join
    funnelled the same key's output.  The canonicalization (a pair
    survives only in its smallest equal block — all earlier blocks must
    differ) still replaces a wide distinct()."""
    wcols = [f"w{i}" for i in range(n_blocks)]
    carry = wcols + [c for c in ham_cols if c not in wcols]
    bk = (words.select(F.col(id_col), *carry,
                       F.explode(F.array(*[F.lit(i)
                                           for i in range(n_blocks)]))
                       .alias("blk"))
          .withColumn("bv", F.element_at(F.array(*wcols), F.col("blk") + 1)))
    item = F.struct(F.col(id_col).alias("id"),
                    *[F.col(c).alias(c) for c in carry])
    buckets = (bk.groupBy("blk", "bv")
               .agg(F.array_sort(F.collect_list(item)).alias("items"))
               .filter(F.size("items") > 1))
    # two-level expansion (r15): a hot (blk, bv) bucket streams its pairs
    # with O(|bucket|) per-row memory — the r14 single-expression flatten
    # built the whole O(|bucket|²) struct-pair array (BOTH sides' Hamming
    # words per pair) in one row buffer; see upper_triangle_pairs
    cand = (upper_triangle_pairs(buckets, "items", "pa", "pb",
                                 carry=("blk",))
            .select("blk", F.col("pa.id").alias("id_a"),
                    F.col("pb.id").alias("id_b"),
                    *[F.col(f"pa.{c}").alias(f"{c}_a") for c in carry],
                    *[F.col(f"pb.{c}").alias(f"{c}_b") for c in carry]))
    uniq = F.lit(True)
    for i in range(n_blocks - 1):
        uniq = uniq & ((F.col("blk") <= i)
                       | (F.col(f"w{i}_a") != F.col(f"w{i}_b")))
    hamming = sum(F.bit_count(F.col(f"{h}_a").bitwiseXOR(F.col(f"{h}_b")))
                  for h in ham_cols)
    return (cand.filter(uniq)
            .withColumn("hamming", hamming.cast("long"))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
            .orderBy("id_a", "id_b"))


def _simhash_pairs_wide_blocks(sig: DataFrame, id_col: str, bits: int,
                               max_hamming: int,
                               bounds: list[tuple[int, int]]) -> DataFrame:
    """Pigeonhole pair generation when a block exceeds 63 bits (so it
    cannot pack into one BIGINT word): block equality compares the raw
    bit-substring, and Hamming is computed from signature-spanning 63-bit
    words (independent of the block layout).  Same completeness argument
    and first-matching-block canonicalization as the packed fast path —
    only the block-value representation differs.  Not the benched path:
    oversized blocks occur only at tiny max_hamming relative to bits,
    where n_blocks (and therefore the join fan-out) is small anyway."""
    n_blocks = len(bounds)
    hbounds, start = [], 1
    while start <= bits:
        ln = min(63, bits - start + 1)
        hbounds.append((start, ln))
        start += ln
    words = sig.select(
        F.col(id_col),
        *[F.expr(f"substring(simhash, {s}, {ln})").alias(f"w{i}")
          for i, (s, ln) in enumerate(bounds)],
        *[F.expr(f"CAST(conv(substring(simhash, {s}, {ln}), 2, 10) AS BIGINT)")
          .alias(f"h{j}") for j, (s, ln) in enumerate(hbounds)])
    return _pigeonhole_pairs(words, id_col, n_blocks,
                             [f"h{j}" for j in range(len(hbounds))],
                             max_hamming)


def simhash_near_dup_pairs(df: DataFrame, id_col: str, text_col: str,
                           bits: int = 64, max_hamming: int = 3) -> DataFrame:
    """Near-dup doc pairs whose SimHash Hamming distance is ≤ max_hamming.

    The signature frame (one short row per doc — corpus-cardinality, not
    token-cardinality) feeds the pair stage through ONE lineage since the
    late-r14 bucket-expansion rewrite of :func:`_pigeonhole_pairs`, so
    the eager-checkpoint dance the old block SELF-JOIN required (both
    join sides referenced the aggregate → without materialization the
    whole explode+hash+aggregate pipeline evaluated twice, measured 5×
    slower at sf0.1; lazy persist raced its own fill, 138 s vs 8 s on
    the RP-LSH path; the r14 session-1 fix checkpointed FIRST because
    fan_out's partition probe executed the aggregate under AQE, then
    re-checkpointed the widened layout) is gone wholesale: no barrier,
    no checkpoint blocks to sweep, the signature aggregate streams
    straight into the bucket groupBy's map side."""
    sig = simhash_signatures(df, id_col, text_col, bits)
    return simhash_pairs_from_signatures(sig, id_col, bits, max_hamming)


# ---------------------------------------------------------------------------
# near-dup clustering: pairs → connected components → canonical survivors
# ---------------------------------------------------------------------------


DRIVER_CC_MAX_PAIRS = 200_000


def _driver_union_find(rows) -> "list[tuple]":
    """Union-find over a driver-sized edge list → (node, min-id-of-component)
    rows.  Semantics identical to min-label propagation (what the oracle
    checks)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    # union-by-min links the larger root under the smaller on every merge,
    # so each tree's root IS its component's minimum id — find() alone
    # yields the label
    return [(node, find(node)) for node in parent]


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): every node attaches its STRICTLY LARGER
    neighbors to the minimum of its neighborhood (self included).  Input
    and output edges are oriented (a > b); output stays oriented because
    the emitted edge (v, m) has v > u ≥ m."""
    sym = edges.unionAll(edges.select(F.col("b").alias("a"),
                                      F.col("a").alias("b")))
    m = (sym.groupBy("a").agg(F.min("b").alias("mb"))
         .select("a", F.least("mb", "a").alias("m")))
    return (sym.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: every node attaches its smaller neighbors
    (its out-neighbors, since edges are oriented a > b) to the minimum
    among them, and keeps its own edge to that minimum."""
    m = edges.groupBy("a").agg(F.min("b").alias("m"))
    moved = (edges.join(m, "a")
             .filter(F.col("b") != F.col("m"))
             .select(F.col("b").alias("a"), F.col("m").alias("b")))
    kept = m.select("a", F.col("m").alias("b"))
    return moved.unionAll(kept).distinct()


def star_components(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """(node, cluster_id) connected components via alternating large-star /
    small-star — O(log n) rounds regardless of component diameter, vs
    min-label propagation's O(diameter).  The distributed branch of
    :func:`near_dup_clusters`.

    Each round is two bounded-shuffle aggregations over the current edge
    set; a checkpoint per round caps lineage, and the round it supersedes
    is released at once.  Convergence = the
    (count, xxhash64-sum) fingerprint of the oriented edge set repeats,
    at which point every edge is (node, component-min) — a star.  If the
    fingerprint never repeats within `max_iterations`, raises rather than
    returning a non-star edge set (which would yield MULTIPLE conflicting
    labels per node — silent corruption, unlike propagation's stale-but-
    single labels).  O(log n) rounds means the default 20 covers any graph
    that fits in 2^20-deep id space; hitting the cap indicates a bug, not
    a big graph.

    Self-pairs (x, x) label x with itself, matching the union-find branch.
    """
    selfs = (pairs.filter(F.col("id_a") == F.col("id_b"))
             .select(F.col("id_a").alias("node"))
             .withColumn("cluster_id", F.col("node")))
    edges = materialize(pairs.select(
        F.greatest(F.col("id_a"), F.col("id_b")).alias("a"),
        F.least(F.col("id_a"), F.col("id_b")).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct())
    prev = None
    converged = False
    for _ in range(max_iterations):
        # the new round is computed, so nothing reads the superseded one
        done, edges = edges, materialize(_small_star(_large_star(edges)))
        release(done)
        fp = edges.agg(F.count(F.lit(1)).alias("n"),
                       F.sum(F.xxhash64("a", "b")).alias("h")).collect()[0]
        cur = (fp["n"], fp["h"])
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"star_components: edge set did not stabilize in "
            f"{max_iterations} rounds — non-star output would carry "
            f"conflicting labels; raise max_iterations (log2(n) rounds "
            f"suffice) or investigate the input graph")
    roots = (edges.select(F.col("b").alias("node"))
             .subtract(edges.select(F.col("a").alias("node")))
             .withColumn("cluster_id", F.col("node")))
    return (edges.select(F.col("a").alias("node"),
                         F.col("b").alias("cluster_id"))
            .unionAll(roots)
            .unionAll(selfs)
            .groupBy("node").agg(F.min("cluster_id").alias("cluster_id")))


def near_dup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """(node, cluster_id) connected components of a near-dup pair graph;
    `cluster_id` is the MIN doc id in the component.

    Hybrid by graph size, because the pair list is ALREADY the similarity-
    filtered residue (candidates ≪ corpus, then Jaccard-filtered again):

    - pair count ≤ DRIVER_CC_MAX_PAIRS → driver-side union-find (bounded
      collect of the pair list — megabytes), zero shuffle rounds.  At
      fixture scale the distributed fixpoint spent ~2 s of scheduling on a
      ~10²-edge graph; union-find answers in microseconds.
    - larger graphs → :func:`star_components` (alternating large-star /
      small-star, round 5 — replaced min-label propagation): O(log n)
      rounds instead of O(component diameter), so a pathological chain of
      near-dups cannot stretch the round count.

    Both paths produce identical min-id labels, which is what the oracle
    checks.

    NOTE: NOT lazy — choosing the path requires the pair count, so merely
    calling this runs Spark jobs (count(), plus collect() on the driver
    path).  Callers building plans speculatively should defer the call.
    """
    raw = materialize(pairs.select("id_a", "id_b"), CACHED)
    try:
        n_pairs = raw.count()
        if n_pairs <= DRIVER_CC_MAX_PAIRS:
            spark = pairs.sparkSession
            id_type = pairs.schema["id_a"].dataType
            labels = _driver_union_find([tuple(r) for r in raw.collect()])
            schema = T_.StructType([T_.StructField("node", id_type),
                                    T_.StructField("cluster_id", id_type)])
            # broadcast hint (r14): the label frame is driver-resident and
            # bounded by 2×DRIVER_CC_MAX_PAIRS rows, but a parallelized
            # local collection carries no size statistics, so without the
            # hint keep_canonical's anti-join plans as a sort-merge join
            # that shuffles AND sorts the whole corpus side (2 Exchanges +
            # 2 Sorts observed in the executed plan).  The hint survives
            # the filter/projection keep_canonical applies.  The
            # star_components branch below is NOT hinted — its label
            # frame is corpus-scale.
            return F.broadcast(spark.createDataFrame(labels, schema))
        return star_components(raw, max_iterations)
    finally:
        release(raw)


def keep_canonical(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Drop every near-duplicate except the minimum-id doc of its cluster
    (docs in no pair survive untouched) — the step that turns a pair list
    into an actually-deduplicated corpus.  One anti-join against the
    (small) loser set."""
    labels = near_dup_clusters(pairs)
    losers = (labels.filter(F.col("node") != F.col("cluster_id"))
              .select(F.col("node").alias(id_col)))
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (ground truth / verification path)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        threshold: float = 0.5, n: int = 3,
                        max_gram_freq: int | None = None) -> DataFrame:
    """All pairs with Jaccard ≥ threshold via shared-shingle join.

    `max_gram_freq` drops shingles occurring in more than that many docs
    before pairing (standard stop-shingle trick: at scale a single
    ubiquitous shingle would otherwise quadratically blow up the join).
    Note: dropping shingles changes Jaccard values — it is an approximation
    switch, off by default and off in the oracle-checked gate query.

    Pair generation is a groupBy + in-gram expansion, NOT a gram self-join
    (r14, the :func:`minhash_candidate_pairs` rewrite applied to the exact
    path): a self-join references the scan → tokenize → explode → distinct
    subtree from BOTH sides (two full-input map stages), where grouping
    each gram's doc set and expanding the sorted id array's strict upper
    triangle evaluates it ONCE and shuffles once.  Ids are unique per gram
    (`collect_set`), so the triangle is exactly the id_a < id_b pair
    set the join produced.  A gram's doc-frequency is its bucket size, so
    `max_gram_freq` becomes a size filter on the buckets — the separate
    frequency aggregate + join of the old shape is gone.

    Intersections are COUNTED, never re-materialized (late r14, the
    :func:`group_shingle_jaccard` trick applied to the doc path): each
    kept bucket contributes exactly one triangle row to every pair that
    shares the gram, so ``count(*)`` per (id_a, id_b) IS the
    intersection cardinality — the former shape re-aggregated per-doc
    gram ARRAYS and joined them onto the (quadratic, ~700k rows at
    sf0.1) pair frame twice for a per-row ``array_intersect``: two
    gram-payload join builds plus the array intersections were 2 × 5 s
    of the 12 s gate even after an explicit widening exchange.  Per-doc
    cardinalities come from a ``count_distinct`` aggregate (or, capped,
    from re-exploding the kept buckets — explode is the aggregation's
    inverse), so the verification joins now carry three longs per row
    and the widening repartition is dead weight — removed.  Same
    integers (i, ca, cb), same rounded double, row-identical output.
    """
    sh = _exploded_grams(df, id_col, text_col, n)
    buckets = sh.groupBy("gram").agg(
        F.array_sort(F.collect_set(F.col(id_col))).alias("ids"))
    if max_gram_freq is not None:
        buckets = buckets.filter(F.size("ids") <= max_gram_freq)
        card = (buckets.select(F.explode("ids").alias(id_col))
                .groupBy(id_col)
                .agg(F.count(F.lit(1)).cast("long").alias("c")))
    else:
        card = (sh.groupBy(id_col)
                .agg(F.count_distinct(F.col("gram")).alias("c")))
    # two-level expansion (r15): this gate runs UNCAPPED by design, so a
    # ubiquitous gram's bucket is unbounded — the r14 single-expression
    # flatten built its whole O(|bucket|²) pair array in one row buffer
    # (a 1e5-doc bucket = 5e9 structs in one task allocation); the
    # two-generator shape streams the same pairs with O(|bucket|)
    # per-row memory — see upper_triangle_pairs
    inter = (upper_triangle_pairs(buckets.filter(F.size("ids") > 1),
                                  "ids", "id_a", "id_b")
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).cast("long").alias("i")))
    # no broadcast hint: card is CORPUS-sized (one row per doc) — at
    # 100 TB forcing it driver-side would be the bm25-guard mistake;
    # the planner's estimate-based choice is correct at every scale
    ca = card.select(F.col(id_col).alias("id_a"), F.col("c").alias("ca"))
    cb = card.select(F.col(id_col).alias("id_b"), F.col("c").alias("cb"))
    jac = F.round(F.col("i") / (F.col("ca") + F.col("cb") - F.col("i")), 6)
    return (inter.join(ca, "id_a").join(cb, "id_b")
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
            .orderBy("id_a", "id_b"))


# ---------------------------------------------------------------------------
# LSH parameter selection (the banding S-curve, driver-side pure math)
# ---------------------------------------------------------------------------

def lsh_recall(jaccard: float, n_hashes: int, bands: int) -> float:
    """P(a pair at this Jaccard similarity becomes an LSH candidate)
    under banded MinHash: 1 - (1 - s^r)^b with r = n_hashes/bands rows
    per band — the standard S-curve (Leskovec/Rajaraman/Ullman, Mining
    of Massive Datasets §3.4).  Each band matches iff all r minhash
    components agree (probability s^r); a pair is a candidate iff ANY of
    the b bands match."""
    if n_hashes % bands:
        raise ValueError(f"bands={bands} must divide n_hashes={n_hashes}")
    rows = n_hashes // bands
    return 1.0 - (1.0 - jaccard ** rows) ** bands


def _conv(a: "list[int]", b: "list[int]") -> "list[int]":
    out = [0] * (len(a) + len(b) - 1)
    for i, x in enumerate(a):
        for j, y in enumerate(b):
            out[i + j] += x * y
    return out


def flagged_recall(jaccard: float, n_hashes: int, bands: int,
                   verify_threshold: float) -> float:
    """END-TO-END P(a pair at this Jaccard gets flagged) through BOTH
    stages of the index admit path (minhash_index_flagged_pairs): some
    band fully agrees (candidate) AND the signature-agreement estimate
    clears `verify_threshold`.

    Model: each of the n signature components agrees independently with
    probability J (the MinHash property).  Conditioned on exactly k
    agreeing components, the agreeing set is a uniform k-subset, so
    P(no band fully agrees | k) is a counting problem: the number of
    k-subsets leaving every band incomplete is [x^k]((1+x)^r - x^r)^b
    over C(n, k).  Summing over k >= ceil(n·t):

        recall = Σ_k C(n,k) J^k (1-J)^(n-k) · P(any band complete | k)

    This is what the plain S-curve (:func:`lsh_recall`) over-states: at
    small n the verify stage is coarsely quantized (n=2, t=0.8 needs BOTH
    components equal → recall J², not the curve's 1-(1-J)²), which is how
    degenerate (1,1)/(2,2) configurations previously slipped through the
    picker."""
    if n_hashes % bands:
        raise ValueError(f"bands={bands} must divide n_hashes={n_hashes}")
    import math

    rows = n_hashes // bands
    base = [math.comb(rows, j) for j in range(rows + 1)]
    base[rows] -= 1                      # exclude the fully-agreeing band
    poly = [1]
    for _ in range(bands):
        poly = _conv(poly, base)
    k_min = math.ceil(n_hashes * verify_threshold - 1e-9)
    total = 0.0
    for k in range(k_min, n_hashes + 1):
        p_k = (math.comb(n_hashes, k) * jaccard ** k
               * (1.0 - jaccard) ** (n_hashes - k))
        p_no_band = poly[k] / math.comb(n_hashes, k)
        total += p_k * (1.0 - p_no_band)
    return total


def pick_lsh_params(threshold: float, target_recall: float = 0.9,
                    reject_at: "float | str | None" = "auto",
                    max_false_rate: float = 0.05,
                    max_hashes: int = 128,
                    recall_at: float | None = None) -> "tuple[int, int]":
    """Smallest (n_hashes, bands) meeting the END-TO-END contract:
    :func:`flagged_recall` (candidate ∧ agreement >= `threshold`) reaches
    `target_recall` for pairs at Jaccard `recall_at`, while the CANDIDATE
    rate (the cost stage — every candidate pays a signature join) stays
    <= `max_false_rate` for dissimilar pairs at `reject_at`.

    `recall_at` defaults to (1+threshold)/2 — comfortably above the
    decision boundary.  AT the boundary no finite signature can promise
    high recall: agreement is an unbiased estimator of J, so a pair at
    exactly J = threshold clears `agreement >= threshold` only ~half the
    time, by construction, for any n.  `reject_at` defaults to
    threshold/2 ("auto"); pass None to drop the rejection constraint
    (not recommended — without it the degenerate small-n configurations
    whose bands are single rows satisfy any recall target while making
    EVERY colliding pair a candidate).

    Tuning (n_hashes, bands) is THE cost/recall decision of the MinHash
    family: more hashes sharpen the S-curve but every signature column is
    computed for every document at 100 TB, so the smallest satisfying
    configuration is the right one.  Deterministic exhaustive search over
    rows-per-band × bands (both small by construction); ties prefer more
    bands (sharper low-end rejection at equal hash count).  Raises when
    no configuration within max_hashes satisfies the contract — loud,
    not a silent recall shortfall."""
    if reject_at == "auto":
        reject_at = threshold / 2.0
    if recall_at is None:
        recall_at = (1.0 + threshold) / 2.0
    best = None
    for rows in range(1, 33):
        for bands in range(1, max_hashes // rows + 1):
            n = rows * bands
            if flagged_recall(recall_at, n, bands, threshold) \
                    < target_recall:
                continue
            if reject_at is not None and \
                    lsh_recall(reject_at, n, bands) > max_false_rate:
                continue
            if best is None or (n, -bands) < (best[0], -best[1]):
                best = (n, bands)
    if best is None:
        raise ValueError(
            f"no (n_hashes <= {max_hashes}, bands) reaches end-to-end "
            f"recall >= {target_recall} at jaccard {recall_at} (verify at "
            f"{threshold})"
            + (f" while holding candidate rate <= {max_false_rate} at "
               f"{reject_at}" if reject_at is not None else ""))
    return best


# ---------------------------------------------------------------------------
# Incremental dedup against a materialized MinHash index
# ---------------------------------------------------------------------------

def build_minhash_index(docs: DataFrame, path: str, id_col: str = "doc_id",
                        text_col: str = "text", n_hashes: int = 12,
                        bands: int = 4, n: int = 3) -> None:
    """Materialize a corpus's MinHash signatures + banded LSH keys as a
    STORAGE LAYOUT — the dedup sibling of similarity.build_ann_index.

    The 100 TB workflow this serves: a deduped corpus is long-lived while
    crawl snapshots arrive incrementally; re-shingling 100 TB to admit a
    1 TB batch is the anti-pattern.  With the index, ingest hashes ONLY
    the new batch and joins its band keys against the stored buckets —
    corpus-side cost is a bucket-key join against parquet written once at
    curation time.  A one-row meta sidecar records (n_hashes, bands, n)
    so a batch hashed with different parameters fails loudly at plan time
    instead of silently joining disjoint hash spaces.  Choose
    (n_hashes, bands) with :func:`pick_lsh_params` — the banding S-curve
    decides recall at the dedup threshold AND the candidate rate on
    dissimilar pairs, and every extra hash is a per-document cost at
    100 TB."""
    import os

    from ..functions.text import fingerprint_sql

    spark = docs.sparkSession
    sig = minhash_signatures(docs, id_col, text_col, n_hashes, n)
    sig.write.mode("overwrite").parquet(os.path.join(path, "signatures"))
    # bands derive from the stored copy: one shingle pass total, and the
    # written band keys provably match the written signatures
    stored = spark.read.parquet(os.path.join(path, "signatures"))
    bk = lsh_band_keys(stored, id_col, bands, n_hashes // bands)
    bk.write.mode("overwrite").parquet(os.path.join(path, "bands"))
    # exact-fingerprint sidecar: md5 of normalized text per corpus doc —
    # the admit path drops byte-identical recrawls with one cheap join
    # BEFORE shingling/minhashing the batch (web recrawl batches are
    # commonly 30-60% exact dups; hashing them 12 ways first is waste)
    (docs.select(F.col(id_col),
                 F.expr(fingerprint_sql(D.SPARK, text_col))
                 .alias("fingerprint"))
     .write.mode("overwrite").parquet(os.path.join(path, "fingerprints")))
    (spark.createDataFrame([(n_hashes, bands, n)],
                           "n_hashes int, bands int, n int")
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(path, "meta")))


def append_minhash_index(new_docs: DataFrame, path: str,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         verify: bool = False) -> None:
    """Extend a materialized MinHash index with an ADMITTED batch — the
    step after :func:`dedup_batch_against_index` that closes the ingest
    loop (admit → extend → next batch dedups against the grown corpus).

    Appends signatures, band keys and fingerprints computed with the
    parameters recorded in the meta sidecar (the same plan-time contract
    the admit path enforces); parquet append touches only new files, the
    existing corpus-side files are never rewritten — at 100 TB the index
    grows by the batch, not by a rebuild.  Caller contract: append only
    docs that PASSED admission (appending unfiltered batches would store
    duplicate signatures).  Ids are not checked BY DEFAULT because the
    check costs a probe against the stored layout; `verify=True` buys
    the operator-misuse guard — one semi-join of the batch ids against
    the signature sidecar, raising before anything is written if any id
    is already indexed (a re-appended batch after a crashed driver, or
    an unfiltered batch whose dups happen to share ids).  Note for
    pre-r8 indexes (no fingerprints sidecar): appending CREATES the
    sidecar covering only appended batches — the exact tier then catches
    recrawls of appended docs but not of the original build set (those
    still flag through the LSH tier); rebuild the index to get full
    exact-tier coverage."""
    import os

    spark = new_docs.sparkSession
    meta = load_minhash_index_meta(spark, path)
    n_hashes, bands, n = meta["n_hashes"], meta["bands"], meta["n"]
    from ..functions.text import fingerprint_sql

    if verify:
        stored = spark.read.parquet(os.path.join(path, "signatures")) \
            .select(id_col)
        clash = (stored.join(new_docs.select(id_col), on=id_col,
                             how="left_semi").limit(5).collect())
        if clash:
            raise ValueError(
                f"append_minhash_index(verify=True): batch ids already "
                f"indexed at {path} (e.g. "
                f"{sorted(r[0] for r in clash)}) — re-appended batch or "
                f"unfiltered admit output?")

    sig = minhash_signatures(new_docs, id_col, text_col, n_hashes, n)
    sig.write.mode("append").parquet(os.path.join(path, "signatures"))
    # band keys recomputed from the batch subtree, NOT read back from the
    # grown signatures dir: signatures are deterministic md5 derivations,
    # so recomputation is bit-identical to the written copy, and a
    # batch-sized second shingle pass beats a corpus-sized scan of the
    # appended parquet (the build path's read-back amortizes differently:
    # there the whole corpus would otherwise shingle twice)
    lsh_band_keys(sig, id_col, bands, n_hashes // bands) \
        .write.mode("append").parquet(os.path.join(path, "bands"))
    (new_docs.select(F.col(id_col),
                     F.expr(fingerprint_sql(D.SPARK, text_col))
                     .alias("fingerprint"))
     .write.mode("append").parquet(os.path.join(path, "fingerprints")))


def load_minhash_index_meta(spark, path: str) -> dict:
    import os

    try:
        return spark.read.parquet(os.path.join(path, "meta")) \
            .collect()[0].asDict()
    except Exception as exc:
        # surface a plan-time contract error, not a raw path traceback:
        # the CLI convention maps ValueError -> `error: ...`, exit 2
        raise ValueError(
            f"no MinHash index at {path} (missing/unreadable meta sidecar "
            f"— build one with `corpus index` / build_minhash_index): "
            f"{type(exc).__name__}") from exc


def minhash_index_flagged_pairs(new_docs: DataFrame, path: str,
                                id_col: str = "doc_id",
                                text_col: str = "text",
                                threshold: float = 0.8) -> DataFrame:
    """(id_new, id_corpus, agreement) for new-batch docs whose estimated
    Jaccard against an indexed corpus doc is ≥ threshold.

    Candidates come from the stored band buckets (any shared band);
    verification is SIGNATURE AGREEMENT — the fraction of equal minhash
    components, an unbiased Jaccard estimator computable without the
    corpus text (the index stores signatures, not documents; exact
    verification would re-scan the corpus and defeat the index).  Both
    stages are deterministic, so the from-scratch SQL oracle reproduces
    the estimate bit-exactly.

    The batch's signature columns ride the band explode (`carry`), so the
    signature subtree appears exactly ONCE in the plan: no persist to pin
    blocks across repeated admit calls in a long-lived session, and no
    second batch-side join — the candidate rows already hold the batch
    signature for the agreement computation."""
    import os

    spark = new_docs.sparkSession
    meta = load_minhash_index_meta(spark, path)
    n_hashes, bands, n = meta["n_hashes"], meta["bands"], meta["n"]
    corpus_bands = spark.read.parquet(os.path.join(path, "bands"))
    corpus_sigs = spark.read.parquet(os.path.join(path, "signatures"))
    hcols = [f"h{i}" for i in range(n_hashes)]
    new_sig = minhash_signatures(new_docs, id_col, text_col, n_hashes, n)
    new_bands = lsh_band_keys(new_sig, id_col, bands, n_hashes // bands,
                              carry=tuple(hcols))
    # a pair sharing several bands appears once: distinct over the pair
    # plus the carried signature (functionally dependent on id_new, so the
    # pair set is unchanged and the wider rows are batch-sized)
    cand = (new_bands.select(F.col(id_col).alias("id_new"), *hcols,
                             "band", "band_key")
            .join(corpus_bands.select(F.col(id_col).alias("id_corpus"),
                                      "band", "band_key"),
                  on=["band", "band_key"])
            .select("id_new", *hcols, "id_corpus").distinct())
    b = corpus_sigs.select(F.col(id_col).alias("id_corpus"),
                           *[F.col(f"h{i}").alias(f"b{i}")
                             for i in range(n_hashes)])
    agree = sum(F.expr(f"CAST(h{i} = b{i} AS INT)")
                for i in range(n_hashes))
    return (cand.join(b, "id_corpus")
            .withColumn("agreement",
                        F.round(agree / F.lit(float(n_hashes)), 6))
            .filter(F.col("agreement") >= threshold)
            .select("id_new", "id_corpus", "agreement")
            .orderBy("id_new", "id_corpus"))


def exact_index_flagged_ids(new_docs: DataFrame, path: str,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Batch-doc ids whose normalized-text fingerprint (md5 of lowercased,
    whitespace-collapsed text — functions/text.py fingerprint_sql) already
    exists in the indexed corpus's fingerprint sidecar.

    The cheap tier of incremental dedup: one md5 per batch doc + one
    semi-join against stored parquet — no shingling, no 12-way minhash,
    no band explode.  Byte-identical copies are also always caught by the
    LSH tier (identical text → identical signature → identical band
    keys); this tier additionally catches case/whitespace VARIANTS of
    indexed docs, whose raw-text shingles diverge enough that signature
    agreement can fall under the threshold — so it both removes cost and
    strictly improves recall on trivially-reformatted recrawls."""
    import os

    spark = new_docs.sparkSession
    from ..functions.text import fingerprint_sql

    corpus_fp = spark.read.parquet(os.path.join(path, "fingerprints"))
    batch_fp = new_docs.select(
        F.col(id_col),
        F.expr(fingerprint_sql(D.SPARK, text_col)).alias("fingerprint"))
    # corpus side LEFT, batch side RIGHT: at 100 TB the fingerprint table
    # is corpus-sized (a batch-left semi-join would shuffle it on the
    # fingerprint key); with the small batch on the probe side AQE
    # broadcasts it and the corpus parquet streams through unshuffled —
    # the only shuffle is the distinct over matched batch ids (bounded by
    # the batch)
    return (corpus_fp.select("fingerprint")
            .join(batch_fp, on="fingerprint")
            .select(id_col).distinct())


def dedup_batch_against_index(new_docs: DataFrame, path: str,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              threshold: float = 0.8) -> DataFrame:
    """New-batch docs that are NOT near-dups of the indexed corpus (the
    admit step of incremental ingest; compose with minhash_near_dup_pairs
    + keep_canonical for WITHIN-batch dedup).

    Two tiers when the index carries the exact-fingerprint sidecar:
    (1) drop exact-after-normalization dups with the cheap fingerprint
    semi-join, (2) minhash ONLY the survivors and probe the band buckets.
    The admitted set is a subset of the LSH-only result — equal on
    byte-identical dups (those the LSH tier always catches too), smaller
    when the batch carries case/whitespace variants of indexed docs
    (caught by the normalized fingerprint, potentially under-estimated by
    raw-text shingle agreement).  Indexes built before round 8 lack the
    sidecar and get the LSH tier only."""
    import os

    spark = new_docs.sparkSession
    survivors = new_docs
    if hadoop_exists(spark, os.path.join(path, "fingerprints")):
        exact = exact_index_flagged_ids(new_docs, path, id_col, text_col)
        survivors = new_docs.join(exact, on=id_col, how="left_anti")
    flagged = (minhash_index_flagged_pairs(survivors, path, id_col,
                                           text_col, threshold)
               .select(F.col("id_new").alias(id_col)).distinct())
    return survivors.join(flagged, on=id_col, how="left_anti")


def compact_minhash_index(spark, path: str,
                          max_records_per_file: int = 2_000_000) -> dict:
    """Consolidate an append-grown MinHash index's file layout
    (signatures / bands / fingerprints each gain >= 1 file per admitted
    batch; after thousands of batches, file listing and footer reads
    dominate every probe).  Content is byte-equivalent — only the
    file-level layout changes; the meta sidecar is untouched.  Returns
    {subdir: (files_before, files_after)}.  Maintenance-cadence work with
    probes quiesced: one scan + one write per subdir, swapped in with the
    datastore's tmp/bak dance (util.swap_directory — a reader racing the
    swap can observe a briefly-missing directory; see its docstring).
    Pre-r8 indexes without the fingerprints sidecar are supported the
    same way the admit path supports them: the absent subdir is skipped
    (Hadoop FS existence check, so remote index paths work), and an index
    with no signatures at all fails loudly as a contract error."""
    import os

    from ..util import compact_parquet_dir, recover_directory

    # a previous compaction crashed mid-swap leaves a subdir missing with
    # its .bak beside it — repair BEFORE the layout check, so re-running
    # compaction is the recovery procedure
    for sub in ("signatures", "bands", "fingerprints"):
        recover_directory(spark, os.path.join(path, sub))
    if not hadoop_exists(spark, os.path.join(path, "signatures")):
        raise ValueError(
            f"no MinHash index at {path} (missing signatures/ — build one "
            f"with `corpus index` / build_minhash_index)")
    return {sub: compact_parquet_dir(spark, os.path.join(path, sub),
                                     max_records_per_file)
            for sub in ("signatures", "bands", "fingerprints")
            if hadoop_exists(spark, os.path.join(path, sub))}
