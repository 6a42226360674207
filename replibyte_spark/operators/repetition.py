"""Gopher/MassiveText repetition rules (Rae et al. 2021, appendix A1.1,
table A1) — the second half of the published document filter that
functions/gopher.py (the seven *quality* rules) does not cover: documents
dominated by repeated lines, paragraphs, or n-grams.

The thirteen published rules and thresholds:

====================================  =========
fraction of duplicate lines            <= 0.30
fraction of duplicate paragraphs       <= 0.30
chars in duplicate lines               <= 0.20
chars in duplicate paragraphs          <= 0.20
chars in most common 2-gram            <= 0.20
chars in most common 3-gram            <= 0.18
chars in most common 4-gram            <= 0.16
chars in duplicated 5-grams            <= 0.15
chars in duplicated 6-grams            <= 0.14
chars in duplicated 7-grams            <= 0.13
chars in duplicated 8-grams            <= 0.12
chars in duplicated 9-grams            <= 0.11
chars in duplicated 10-grams           <= 0.10
====================================  =========

Exact measurement definitions (pinned here because the paper leaves them
prose-level; both engines implement THESE, so parity is by construction):

- segments (lines / paragraphs) are literal splits of the raw text on a
  separator; a *duplicate* occurrence is any occurrence after the first
  of an identical segment, and its chars are the segment's chars (the
  separator itself is never counted).
- words are the shared lowercased-whitespace tokenizer of
  functions/gopher.py; an n-gram is n consecutive words joined by a
  single space; its chars are ``length(gram)`` (word chars plus the
  n-1 joining spaces).
- *most common n-gram* chars = occurrence count × gram length, over the
  denominator ``word_chars + n_words - 1`` (the length of the
  single-space-normalized text).  Ties on count break to the
  lexicographically largest gram (count × length is what the rule
  measures; the tie-break only pins determinism).
- *duplicated n-gram* coverage is the UNION of word positions covered by
  any n-gram occurring more than once (overlapping occurrences are not
  double-counted — the paper's own caveat), measured in word chars over
  the denominator ``word_chars`` (joining spaces excluded from both
  numerator and denominator).
- a document with fewer than n words has no n-gram and passes the
  n-gram rules vacuously.

Every threshold is evaluated as an integer cross-multiplication
(``frac <= p/q  <=>  q*num <= p*den``), so the flags carry no float
surface at all between the Spark plan and the DuckDB oracle.

Scale shape: the segment rules are pure projections (array_distinct over
per-document arrays — they ride the scan).  The n-gram rules are one
posexplode of ~9 grams per word followed by aggregations and joins ALL
keyed by doc_id (or (doc_id, n, gram)) — partition-local group sizes,
no cross-document data motion beyond the hash shuffle, no broadcast.
At 100 TB this is the same shape as the minhash shingle pass.

Reference analogue: none — Replibyte has no text analytics (SURVEY.md
§2.9); this extends the curation surface next to functions/gopher.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import dialect as D
from ..functions.gopher import words_sql

# published thresholds as exact rationals (p, q): frac <= p/q
DUP_SEG_FRAC = (3, 10)        # duplicate line/paragraph fraction <= 0.30
DUP_SEG_CHAR_FRAC = (1, 5)    # duplicate line/paragraph chars    <= 0.20
TOP_NGRAM_CHAR_FRAC = {2: (1, 5), 3: (9, 50), 4: (4, 25)}
DUP_NGRAM_CHAR_FRAC = {5: (3, 20), 6: (7, 50), 7: (13, 100),
                       8: (3, 25), 9: (11, 100), 10: (1, 10)}

TOP_NS = tuple(TOP_NGRAM_CHAR_FRAC)
DUP_NS = tuple(DUP_NGRAM_CHAR_FRAC)

#: rule name -> description, in published order (drives flag/gate columns)
REPETITION_RULES = {
    "dup_line_frac": "duplicate line fraction <= 0.30",
    "dup_line_char_frac": "duplicate line char fraction <= 0.20",
    "dup_para_frac": "duplicate paragraph fraction <= 0.30",
    "dup_para_char_frac": "duplicate paragraph char fraction <= 0.20",
    **{f"top_{n}gram_char_frac":
       f"top {n}-gram char fraction <= {p}/{q}"
       for n, (p, q) in TOP_NGRAM_CHAR_FRAC.items()},
    **{f"dup_{n}gram_char_frac":
       f"duplicated {n}-gram char fraction <= {p}/{q}"
       for n, (p, q) in DUP_NGRAM_CHAR_FRAC.items()},
}


# ---------------------------------------------------------------------------
# segment (line / paragraph) rules — pure projections, dialect-shared SQL
# ---------------------------------------------------------------------------

def _split_lit(d: str, text: str, sep: str) -> str:
    """Literal-separator split (NULL -> one empty segment)."""
    if d == D.SPARK:
        # Spark split() takes a REGEX — quote the separator; re.escape
        # leaves ' alone, so double it for the SQL literal too
        import re
        pat = re.escape(sep).replace("\\", "\\\\").replace("'", "''")
        return f"split(coalesce({text}, ''), '{pat}')"
    return f"string_split(coalesce({text}, ''), {D.q(sep)})"


def _arr_char_sum(d: str, arr: str) -> str:
    if d == D.SPARK:
        return (f"aggregate(transform({arr}, x -> length(x)), 0, "
                f"(acc, x) -> acc + x)")
    return f"coalesce(list_sum(list_transform({arr}, x -> length(x))), 0)"


def _arr_distinct(d: str, arr: str) -> str:
    return (f"array_distinct({arr})" if d == D.SPARK
            else f"list_distinct({arr})")


def seg_rep_stats_from_arrays(d: str, seg: str, dseg: str
                              ) -> dict[str, str]:
    """Integer stats over STAGED segment/distinct-segment array refs —
    the hot-path form (each array evaluated once, in its own column)."""
    return {
        "n": D.array_len(d, seg),
        "nd": D.array_len(d, dseg),
        "tc": _arr_char_sum(d, seg),
        "dc": _arr_char_sum(d, dseg),
    }


def seg_rep_stats_sql(d: str, text: str, sep: str) -> dict[str, str]:
    """Integer stats for one segment granularity: total / distinct counts
    and total / distinct char sums.  Duplicate occurrences are then
    ``n - nd`` and their chars ``tc - dc`` (first occurrences keep their
    chars in the distinct sums, so the subtraction counts exactly the
    2nd+ occurrences of each repeated segment).  Inline form (used by
    the oracle; the Spark path stages the arrays into columns)."""
    seg = _split_lit(d, text, sep)
    return seg_rep_stats_from_arrays(d, seg, _arr_distinct(d, seg))


def seg_flag_sqls(stats: dict[str, str], kind: str) -> dict[str, str]:
    """The two segment rules as integer cross-multiplications over the
    stat refs.  ``kind`` is 'line' or 'para' (column naming only)."""
    s = stats
    pf, qf = DUP_SEG_FRAC
    pc, qc = DUP_SEG_CHAR_FRAC
    return {
        f"dup_{kind}_frac":
            f"({qf} * ({s['n']} - {s['nd']}) <= {pf} * {s['n']})",
        f"dup_{kind}_char_frac":
            f"({qc} * ({s['tc']} - {s['dc']}) <= {pc} * {s['tc']})",
    }


# ---------------------------------------------------------------------------
# n-gram machinery — shared SQL fragments for the Spark plan and the oracle
# ---------------------------------------------------------------------------

def grams_array_sql(d: str, w: str, n: int) -> str:
    """Array of ``struct(n, pos, gram)`` for all n-gram start positions of
    the word array ``w`` (pos is 0-based; empty when the doc is shorter
    than n words)."""
    if d == D.SPARK:
        return (f"CASE WHEN size({w}) >= {n} THEN "
                f"transform(sequence(1, size({w}) - {n} + 1), "
                f"i -> named_struct('n', {n}, 'pos', i - 1, 'gram', "
                f"array_join(slice({w}, i, {n}), ' '))) "
                f"ELSE CAST(array() AS "
                f"array<struct<n: int, pos: int, gram: string>>) END")
    return (f"CASE WHEN len({w}) >= {n} THEN "
            f"list_transform(range(1, len({w}) - {n} + 2), "
            f"i -> {{'n': {n}, 'pos': i - 1, 'gram': "
            f"array_to_string({w}[i:i+{n}-1], ' ')}}) "
            f"ELSE [] END")


def word_pos_array_sql(d: str, w: str) -> str:
    """Array of ``struct(pos, wlen)`` — char length at each 0-based word
    position (the coverage join's right side)."""
    if d == D.SPARK:
        # sequence(1, 0) is DESCENDING [1, 0] in Spark — guard empty docs
        return (f"CASE WHEN size({w}) >= 1 THEN "
                f"transform(sequence(1, size({w})), "
                f"i -> named_struct('pos', i - 1, 'wlen', "
                f"length(element_at({w}, i)))) "
                f"ELSE CAST(array() AS "
                f"array<struct<pos: int, wlen: int>>) END")
    return (f"list_transform(range(1, len({w}) + 1), "
            f"i -> {{'pos': i - 1, 'wlen': length({w}[i])}})")


def ngram_flag_sqls(stats: dict[str, str]) -> dict[str, str]:
    """n-gram rules over per-doc stat refs: ``n_words``, ``word_chars``,
    ``top{n}_chars``, ``dup{n}_chars`` (the chars columns already
    0-coalesced).  Vacuous pass below n words."""
    s = stats
    out: dict[str, str] = {}
    for n, (p, q) in TOP_NGRAM_CHAR_FRAC.items():
        out[f"top_{n}gram_char_frac"] = (
            f"({s['n_words']} < {n} OR {q} * {s[f'top{n}_chars']} <= "
            f"{p} * ({s['word_chars']} + {s['n_words']} - 1))")
    for n, (p, q) in DUP_NGRAM_CHAR_FRAC.items():
        out[f"dup_{n}gram_char_frac"] = (
            f"({s['n_words']} < {n} OR {q} * {s[f'dup{n}_chars']} <= "
            f"{p} * {s['word_chars']})")
    return out


# ---------------------------------------------------------------------------
# Spark plan
# ---------------------------------------------------------------------------

def repetition_flags(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     line_sep: str = "\n", para_sep: str = "\n\n",
                     prefix: str = "rep_") -> DataFrame:
    """Append one boolean per repetition rule (``rep_<rule>``) plus the
    conjunction ``repetition_pass``.

    The ENTIRE filter is projections riding one scan — segment rules
    from staged split arrays, n-gram rules from the zero-shuffle
    :func:`_with_ngram_stats` columns; no explode, no aggregation, no
    join anywhere (the r10 plan shuffled the corpus gram stream and
    joined stats back by id).  ``line_sep``/``para_sep`` parameterize
    the segment granularity (published: newline / blank line) for
    corpora whose segmenting differs."""
    d = D.SPARK

    # zero-shuffle does NOT mean zero-exchange-when-narrow: these
    # projections are ~1000× the scan's IO cost, and a small corpus
    # arriving as one parquet split would serialize the whole rule set on
    # one core (measured r12: the sf0.1 gate read 5.9 s single-task vs
    # 1.7 s fanned out).  fan_out is a no-op on an already-wide scan —
    # the 100 TB shape is unchanged.
    from ..util import fan_out

    df = fan_out(df)
    # stage each segment array (and its distinct) in its own column so
    # every split/array_distinct runs ONCE per row (the gopher_flags
    # staging pattern), then derive the four integer stats per
    # granularity from the staged arrays
    flagged = _with_ngram_stats(df, text_col)
    seg_cols: list[str] = []
    seg_stats: dict[str, dict[str, str]] = {}
    for kind, sep in (("line", line_sep), ("para", para_sep)):
        arr, darr = f"__rep_{kind}s", f"__rep_{kind}s_d"
        flagged = (flagged
                   .withColumn(arr, F.expr(_split_lit(d, text_col, sep)))
                   .withColumn(darr, F.expr(_arr_distinct(d, arr))))
        seg_cols += [arr, darr]
        seg_stats[kind] = seg_rep_stats_from_arrays(d, arr, darr)
    flags = {**seg_flag_sqls(seg_stats["line"], "line"),
             **seg_flag_sqls(seg_stats["para"], "para"),
             **ngram_flag_sqls({c: c for c in NGRAM_STAT_COLS})}
    for rule in REPETITION_RULES:
        flagged = flagged.withColumn(prefix + rule, F.expr(flags[rule]))
    passed = " AND ".join(prefix + r for r in REPETITION_RULES)
    return (flagged.withColumn("repetition_pass", F.expr(passed))
            .drop(*seg_cols, *NGRAM_STAT_COLS))


#: stats columns _with_ngram_stats appends (and repetition_flags drops)
NGRAM_STAT_COLS = ("n_words", "word_chars",
                   *[f"top{n}_chars" for n in TOP_NS],
                   *[f"dup{n}_chars" for n in DUP_NS])


def _let(val: str, var: str, body: str) -> str:
    """SQL let-binding: evaluate ``val`` ONCE, bind it as lambda variable
    ``var`` inside ``body`` (``transform`` over a one-element array is
    the binder).  This is load-bearing, not style: Catalyst's alias
    substitution (filter pushdown, project collapse) duplicates an
    alias's WHOLE TREE per reference, so a chain of staged columns each
    referencing the previous 2-5× explodes exponentially when a filter
    predicate inlines it — measured 150 s PER ROW for the repetition
    conjunction before this rewrite.  A lambda variable reference cannot
    be substituted, so even a fully-inlined predicate contains ``val``
    exactly once."""
    return f"element_at(transform(array({val}), {var} -> {body}), 1)"


def _with_ngram_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the per-document n-gram stat columns as PURE PROJECTIONS —
    no explode, no shuffle, no join.

    The published repetition stats are per-document functions of the
    text, so distributing them as a corpus-wide gram explode + groupBy
    (the r9/r10 implementation) shuffled ~9·W gram rows per document for
    something each row can compute locally.  Per n, the doc's sorted
    (gram, pos) array is let-bound (:func:`_let`) and both stats derive
    from runs in the sorted order:

    - top{n}_chars: run boundaries are indices whose gram differs from
      the previous; run lengths are boundary diffs; the winner is
      ``array_max`` over (cnt, gram) structs — max count, ties to the
      lexicographically largest gram, bit-identical to the old
      ``max(struct(cnt, gram))`` aggregation and the DuckDB oracle.
    - dup{n}_chars: a gram occurrence is duplicated iff a sorted
      neighbor has the same gram; union coverage is ``array_distinct``
      over the flattened position ranges, summed through the doc's
      word-length array.

    O(G log G) per document per n; the plan is scan → projections
    (ZERO exchanges — measured ~2× faster than the explode+groupBy
    chain at sf0.1 and strictly better at scale: nothing leaves the
    row, so a viral duplicated document costs its own length, never a
    hot shuffle key).  Intermediates are lambda-bound rather than
    staged columns so a consumer's filter predicate can inline the
    stats without exponential re-expansion (see :func:`_let`)."""
    d = D.SPARK

    # every stat column REBINDS the staged words column through _let
    # before touching it inside any lambda: a bare staged-column
    # reference substituted by filter pushdown lands INSIDE the
    # transform lambdas (slice(w, i, n)) and is then re-evaluated once
    # per array ELEMENT — measured 10× on the whole filter at sf0.1
    # (60 s vs 6 s).  Rebound as a lambda variable it is evaluated once
    # per column evaluation no matter what the optimizer inlines, while
    # the plain-projection path still tokenizes once per row (the
    # staged __rw column survives — multi-use aliases don't collapse).
    st = df.withColumn("__rw", F.expr(words_sql(d, text_col)))

    def wbind(body: str) -> str:
        return _let("__rw", "w0", body)

    st = (st.withColumn("n_words", F.expr(wbind("size(w0)")))
          .withColumn("word_chars", F.expr(wbind(
              "aggregate(w0, 0, (acc, x) -> acc + length(x))"))))

    def sp_val(n: int, with_pos: bool = True) -> str:
        # sorted gram array for this n; the top-n path sorts PLAIN
        # strings (positions are only needed for dup coverage) — a
        # cheaper comparator and smaller transient arrays
        if with_pos:
            elem = (f"named_struct("
                    f"'gram', array_join(slice(w0, i, {n}), ' '), "
                    f"'pos', i - 1)")
            empty = "array<struct<gram: string, pos: int>>"
        else:
            elem = f"array_join(slice(w0, i, {n}), ' ')"
            empty = "array<string>"
        return (f"CASE WHEN size(w0) >= {n} THEN "
                f"array_sort(transform(sequence(1, size(w0) - {n} + 1), "
                f"i -> {elem})) "
                f"ELSE CAST(array() AS {empty}) END")

    for n in TOP_NS:
        # run boundaries: 1-based indices starting a new gram run
        b_val = ("CASE WHEN size(sp) >= 1 THEN "
                 "filter(sequence(1, size(sp)), j -> j = 1 "
                 "OR element_at(sp, j) != element_at(sp, j - 1)) "
                 "ELSE CAST(array() AS array<int>) END")
        runs = ("transform(sequence(1, size(b0)), k -> named_struct("
                "'cnt', CAST((CASE WHEN k < size(b0) "
                "THEN element_at(b0, k + 1) "
                "ELSE size(sp) + 1 END) - element_at(b0, k) AS BIGINT), "
                "'gram', element_at(sp, element_at(b0, k))))")
        top_body = ("CASE WHEN size(sp) >= 1 THEN "
                    + _let(f"array_max({runs})", "mx",
                           "CAST(mx.cnt * length(mx.gram) AS BIGINT)")
                    + " ELSE 0L END")
        st = st.withColumn(f"top{n}_chars", F.expr(
            wbind(_let(sp_val(n, with_pos=False), "sp",
                       _let(b_val, "b0", top_body)))))
    for n in DUP_NS:
        dpos = ("transform(filter(sequence(1, size(sp)), "
                "j -> (j > 1 AND element_at(sp, j).gram = "
                "element_at(sp, j - 1).gram) "
                "OR (j < size(sp) AND element_at(sp, j).gram = "
                "element_at(sp, j + 1).gram)), "
                "j -> element_at(sp, j).pos)")
        cov = (f"array_distinct(flatten(transform({dpos}, "
               f"p -> sequence(p, p + {n} - 1))))")
        dup_body = (f"CASE WHEN size(sp) >= 2 THEN "
                    f"CAST(aggregate({cov}, 0, "
                    f"(acc, cp) -> acc + element_at(wl0, cp + 1)) AS BIGINT) "
                    f"ELSE 0L END")
        st = st.withColumn(f"dup{n}_chars", F.expr(
            wbind(_let("transform(w0, x -> length(x))", "wl0",
                       _let(sp_val(n), "sp", dup_body)))))
    return st.drop("__rw")


def ngram_doc_stats(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document n-gram stats: ``n_words``, ``word_chars``, and for
    each configured n a 0-coalesced ``top{n}_chars`` / ``dup{n}_chars``
    — see :func:`_with_ngram_stats` for the zero-shuffle plan shape."""
    return (_with_ngram_stats(df.select(id_col, text_col), text_col)
            .select(id_col, *NGRAM_STAT_COLS))


def repetition_filter(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Documents passing ALL repetition rules, flag columns dropped — the
    composable curation step (chain with gopher_filter before dedup)."""
    flagged = repetition_flags(df, text_col, id_col)
    return (flagged.filter(F.col("repetition_pass"))
            .drop("repetition_pass",
                  *[c for c in flagged.columns if c.startswith("rep_")]))


# ---------------------------------------------------------------------------
# DuckDB oracle
# ---------------------------------------------------------------------------

def ngram_stats_oracle_ctes(table: str = "documents",
                            text: str = "text",
                            id_col: str = "doc_id") -> str:
    """CTE chain mirroring ngram_doc_stats relationally (same integer
    measurements, same tie-breaks); terminal CTE ``rep_stats`` has one
    row per document with the same columns as the Spark stats frame."""
    d = D.DUCK
    gram_parts = ", ".join(grams_array_sql(d, "w", n)
                           for n in (*TOP_NS, *DUP_NS))
    top_ns_in = ", ".join(str(n) for n in TOP_NS)
    dup_ns_in = ", ".join(str(n) for n in DUP_NS)
    top_pivot = ", ".join(
        f"coalesce(max(CASE WHEN n = {n} THEN top_chars END), 0) "
        f"AS top{n}_chars" for n in TOP_NS)
    cov_pivot = ", ".join(
        f"coalesce(max(CASE WHEN n = {n} THEN cov_chars END), 0) "
        f"AS dup{n}_chars" for n in DUP_NS)
    return f"""
w AS (SELECT {id_col}, {words_sql(d, text)} AS w FROM {table}),
base AS (
  SELECT {id_col}, len(w) AS n_words,
         {_arr_char_sum(d, 'w')} AS word_chars
  FROM w),
ge AS (
  SELECT {id_col}, g.n AS n, g.pos AS pos, g.gram AS gram
  FROM (SELECT {id_col},
               unnest(flatten([{gram_parts}])) AS g
        FROM w)),
counts AS (
  SELECT {id_col}, n, gram, CAST(count(*) AS BIGINT) AS cnt
  FROM ge GROUP BY {id_col}, n, gram),
mx AS (
  SELECT {id_col}, n, max(cnt) AS mx FROM counts
  WHERE n IN ({top_ns_in}) GROUP BY {id_col}, n),
topg AS (
  SELECT c.{id_col}, c.n, max(c.gram) AS gram, max(c.cnt) AS cnt
  FROM counts c JOIN mx
    ON c.{id_col} = mx.{id_col} AND c.n = mx.n AND c.cnt = mx.mx
  GROUP BY c.{id_col}, c.n),
tops AS (
  SELECT {id_col}, {top_pivot}
  FROM (SELECT {id_col}, n, cnt * length(gram) AS top_chars FROM topg)
  GROUP BY {id_col}),
dupg AS (
  SELECT {id_col}, n, gram FROM counts
  WHERE cnt > 1 AND n IN ({dup_ns_in})),
dstart AS (
  SELECT ge.{id_col}, ge.n, ge.pos
  FROM ge JOIN dupg
    ON ge.{id_col} = dupg.{id_col} AND ge.n = dupg.n
   AND ge.gram = dupg.gram),
cover AS (
  SELECT DISTINCT {id_col}, n, cpos
  FROM (SELECT {id_col}, n, unnest(range(pos, pos + n)) AS cpos
        FROM dstart)),
wpe AS (
  SELECT {id_col}, p.pos AS cpos, p.wlen AS wlen
  FROM (SELECT {id_col}, unnest({word_pos_array_sql(d, 'w')}) AS p
        FROM w)),
cov AS (
  SELECT cover.{id_col}, cover.n,
         CAST(sum(wpe.wlen) AS BIGINT) AS cov_chars
  FROM cover JOIN wpe
    ON cover.{id_col} = wpe.{id_col} AND cover.cpos = wpe.cpos
  GROUP BY cover.{id_col}, cover.n),
covs AS (
  SELECT {id_col}, {cov_pivot} FROM cov GROUP BY {id_col}),
rep_stats AS (
  SELECT base.{id_col}, base.n_words, base.word_chars,
         {", ".join(f"coalesce(top{n}_chars, 0) AS top{n}_chars"
                    for n in TOP_NS)},
         {", ".join(f"coalesce(dup{n}_chars, 0) AS dup{n}_chars"
                    for n in DUP_NS)}
  FROM base
  LEFT JOIN tops ON base.{id_col} = tops.{id_col}
  LEFT JOIN covs ON base.{id_col} = covs.{id_col})
"""
