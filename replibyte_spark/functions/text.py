"""Text-analysis functions for the documents table — language-ID heuristic,
quality scoring, token counting, document fingerprinting.

These generalize the reference's string transformers (SURVEY.md §2.5) into
the text-metrics a training-data pipeline filters on (BASELINE.json north
star).  All pure Catalyst expressions via the dialect builder — no Python in
the hot path, and every metric is reproduced exactly by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import dialect as D

# tiny per-language stopword profiles for the n-gram/stopword language guess
LANG_PROFILES = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "fr": ["le", "la", "et", "les", "des", "une", "est"],
    "es": ["el", "los", "las", "una", "es", "y", "que"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht"],
    "zh": ["de", "shi", "bu", "le", "wo", "you", "ren"],
}
PUNCT = ".,;:!?'\"()-"
STOPWORDS = LANG_PROFILES["en"]


def token_count_sql(d: str, text: str, toks: str | None = None) -> str:
    """Whitespace token count (empty string → 0, NULL → NULL).

    The NULL arm is explicit: without it Spark's legacy `size(NULL)` = -1
    leaks through the ELSE branch (DuckDB returns NULL), poisoning every
    derived metric — quality bands compare against -1, ratios divide by
    it — and silently diverging engine from oracle.

    Pass `toks` (a materialized token-array column) on the Spark side when
    computing many metrics over one text — otherwise every metric re-runs
    the regex split.  The DuckDB oracle can keep the inline form: values are
    identical either way."""
    toks = toks or D.split_ws(d, text)
    return (f"CASE WHEN {text} IS NULL THEN NULL "
            f"WHEN length(trim({text})) = 0 THEN 0 "
            f"ELSE {D.array_len(d, toks)} END")


def char_count_sql(d: str, text: str) -> str:
    return f"length({text})"


#: scripts written WITHOUT inter-word spaces (kana, CJK ideographs,
#: Thai) — whitespace tokenization sees a whole sentence as one "token"
#: there, silently destroying token budgets, packing and mixing ratios
#: on multilingual corpora.  Same \x{...} class syntax as functions/lid.py
#: (identical in Java regex and RE2).
NOSPACE_SCRIPT_RE = r"[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}\x{0E00}-\x{0E7F}]"


def nospace_char_count_sql(d: str, text: str) -> str:
    """Exact count of no-space-script chars (strip-and-diff, one regexp
    scan)."""
    t = f"coalesce({text}, '')"
    stripped = D.regexp_replace(d, t, NOSPACE_SCRIPT_RE + "+", "")
    return f"(length({t}) - length({stripped}))"


def token_count_multiscript_sql(d: str, text: str,
                                toks: str | None = None) -> str:
    """Script-aware token estimate for mixed-script corpora (pinned
    definition, identical both engines):

        n = (# whitespace tokens containing >= 1 spaced-script char)
          + (# no-space-script chars in the text)

    A pure-Latin text gives exactly the whitespace count; a pure-CJK
    sentence counts one token per character (the standard char-level
    estimate for unsegmented scripts); a mixed token ("漢字abc") counts
    its Latin remainder once plus each CJK char.  NULL → NULL, '' → 0,
    same contract as token_count_sql."""
    toks = toks or D.split_ws(d, text)
    spaced_pred = (f"x -> length({D.regexp_replace(d, 'x', NOSPACE_SCRIPT_RE + '+', '')}) > 0")
    spaced = D.array_len(d, D.array_filter(d, toks, spaced_pred))
    return (f"CASE WHEN {text} IS NULL THEN NULL "
            f"WHEN length(trim({text})) = 0 THEN 0 "
            f"ELSE {spaced} + {nospace_char_count_sql(d, text)} END")


def subword_token_count_sql(d: str, text: str) -> str:
    """BPE-ish subword token count: the GPT-2-style pre-tokenization
    restated without lookahead so ONE pattern means the same thing in
    Java regex (Spark) and RE2 (DuckDB) — contraction suffixes ('s 't
    're 've 'm 'll 'd), unicode letter runs, digit runs, and punctuation
    runs each count as one token ("don't stop!" → don / 't / stop / ! =
    4; "3.14" → 3 / . / 14 = 3).  A deterministic stand-in for a real
    BPE vocabulary's token count — the budget/packing operators need a
    tokens-per-doc number whose ORDER matches what a trained tokenizer
    would produce, not its exact ids.

    The whitespace class is explicit ([ \\t\\n\\x0B\\f\\r]) for the same
    reason split_ws's is: Java's \\s includes vertical tab, RE2's does
    not — the one char the engines disagree on.  NULL → NULL, empty/
    blank → 0 (token_count_sql's contract)."""
    if d == D.SPARK:
        pat = ("''(s|t|re|ve|m|ll|d)|\\\\p{L}+|\\\\p{N}+"
               "|[^ \\\\t\\\\n\\\\x0B\\\\f\\\\r\\\\p{L}\\\\p{N}]+")
        n = f"size(regexp_extract_all({text}, '{pat}', 0))"
    else:
        pat = ("''(s|t|re|ve|m|ll|d)|\\p{L}+|\\p{N}+"
               "|[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+")
        n = f"len(regexp_extract_all({text}, '{pat}'))"
    return (f"CASE WHEN {text} IS NULL THEN NULL "
            f"ELSE {D.to_long(d, n)} END")


def punct_ratio_sql(d: str, text: str) -> str:
    """Fraction of characters that are punctuation."""
    # translate() deletes chars with no replacement in both dialects
    stripped = f"translate({text}, {D.q(PUNCT)}, '')"
    return (f"CASE WHEN length({text}) = 0 THEN CAST(0 AS DOUBLE) ELSE "
            f"round(CAST(length({text}) - length({stripped}) AS DOUBLE) / length({text}), 6) END")


def stopword_count_sql(d: str, text: str, words: list[str] | None = None,
                       ltoks: str | None = None) -> str:
    toks = ltoks or D.split_ws(d, f"lower({text})")
    pred = D.array_contains_lit(d, words or STOPWORDS, "x")
    return D.array_len(d, D.array_filter(d, toks, f"x -> {pred}"))


def stopword_ratio_sql(d: str, text: str, words: list[str] | None = None,
                       toks: str | None = None, ltoks: str | None = None) -> str:
    n_tok = token_count_sql(d, text, toks)
    n_stop = stopword_count_sql(d, text, words, ltoks)
    return (f"CASE WHEN {n_tok} = 0 THEN CAST(0 AS DOUBLE) ELSE "
            f"round(CAST({n_stop} AS DOUBLE) / {n_tok}, 6) END")


def avg_word_len_sql(d: str, text: str, toks: str | None = None) -> str:
    n_tok = token_count_sql(d, text, toks)
    n_char_nospace = f"length({D.regexp_replace(d, text, '[ ]+', '')})"
    return (f"CASE WHEN {n_tok} = 0 THEN CAST(0 AS DOUBLE) ELSE "
            f"round(CAST({n_char_nospace} AS DOUBLE) / {n_tok}, 6) END")


def quality_score_sql(d: str, text: str, toks: str | None = None,
                      ltoks: str | None = None) -> str:
    """Composite quality score in [0,1]: length band + stopword presence +
    low punctuation + sane word length.  A deterministic stand-in for the
    fastText-style quality classifiers used in web-corpus curation."""
    n_tok = token_count_sql(d, text, toks)
    len_score = (f"CASE WHEN {n_tok} >= 50 AND {n_tok} <= 10000 THEN 0.4 "
                 f"WHEN {n_tok} >= 10 THEN 0.2 ELSE 0.0 END")
    stop_score = (f"CASE WHEN {stopword_ratio_sql(d, text, None, toks, ltoks)} >= 0.05 "
                  f"THEN 0.3 ELSE 0.0 END")
    punct_score = f"CASE WHEN {punct_ratio_sql(d, text)} <= 0.2 THEN 0.2 ELSE 0.0 END"
    wl = avg_word_len_sql(d, text, toks)
    wl_score = f"CASE WHEN {wl} >= 2.0 AND {wl} <= 12.0 THEN 0.1 ELSE 0.0 END"
    return (f"round(CAST(({len_score}) + ({stop_score}) + ({punct_score}) + ({wl_score}) AS DOUBLE), 6)")


def lang_guess_sql(d: str, text: str, ltoks: str | None = None) -> str:
    """Stopword-profile language guess with deterministic tie-break (first
    language in profile order wins ties; 'und' when nothing matches)."""
    counts = {lang: stopword_count_sql(d, text, words, ltoks)
              for lang, words in LANG_PROFILES.items()}
    langs = list(LANG_PROFILES)
    # lang L wins if its count > 0 and >= every later lang, and > every earlier
    branches = []
    for i, L in enumerate(langs):
        conds = [f"{counts[L]} > 0"]
        for j, M in enumerate(langs):
            if i == j:
                continue
            op = ">" if j < i else ">="
            conds.append(f"{counts[L]} {op} {counts[M]}")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{L}'")
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


def fingerprint_sql(d: str, text: str) -> str:
    """Normalized-document fingerprint: md5 over lowercased,
    whitespace-collapsed text (the dedup-key normalization step)."""
    norm = D.regexp_replace(d, f"lower(trim({text}))", "\\s+", " ")
    return f"md5({norm})"


def rolling_hash_sql(d: str, text: str, mod: int = 1 << 40, mult: int = 33,
                     ltoks: str | None = None) -> str:
    """Polynomial rolling hash over tokens (order-sensitive fingerprint).

    Folded as acc*mult + tokenhash (mod 2^40) so intermediate values stay
    < 2^46 — exact in BIGINT arithmetic in both engines.
    """
    toks = ltoks or D.split_ws(d, f"lower({text})")
    tok_h = D.hash_long(d, "x", "rh", 1, 10)
    if d == D.SPARK:
        return (f"aggregate({toks}, CAST(0 AS BIGINT), "
                f"(acc, x) -> (acc * {mult} + {tok_h}) % {mod})")
    # explicit NULL arm: Spark's aggregate(NULL, ...) is NULL, but DuckDB's
    # list_prepend(0, NULL) is [0] so list_reduce would return 0 — an
    # engine/oracle divergence for NULL text (same contract token_count_sql
    # defends)
    return (f"CASE WHEN {text} IS NULL THEN NULL ELSE "
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform({toks}, x -> {tok_h})), "
            f"(acc, x) -> (acc * {mult} + x) % {mod}) END")


def col(sql_builder, column: str, **kw) -> Column:
    """Spark Column from any builder in this module."""
    return F.expr(sql_builder(D.SPARK, column, **kw))


def dedup_lines_sql(d: str, text: str, sep: str = "\n") -> str:
    """Remove duplicate segments within one document, keeping the first
    occurrence in order — FineWeb-style intra-document line dedup (nav
    menus, repeated footers, boilerplate chrome repeat WITHIN a page
    long before they repeat across pages).  `sep` picks the segment
    unit: the newline default is the published line-dedup; ' ' gives
    token-level first-occurrence dedup (what the single-line synthetic
    fixture can exercise).  Pure per-row array ops riding the scan:
    index-filtered first-occurrence selection (position(l, l[i]) = i —
    both engines' position builtins return the FIRST index, which is
    also why the obvious array_distinct/list_distinct is NOT used: only
    Spark documents order preservation) re-joined with `sep`.  O(L²) in
    the SEGMENT count of one document, independent of corpus size."""
    import re as _re

    if d == D.SPARK:
        # Spark's split takes a REGEX — escape the literal separator;
        # re.escape leaves ' alone, so double it for the SQL literal too
        pat = _re.escape(sep).replace("\\", "\\\\").replace("'", "''")
        ln = f"split(coalesce({text}, ''), '{pat}')"
        idx = (f"filter(sequence(1, size({ln})), "
               f"i -> array_position({ln}, element_at({ln}, i)) = i)")
        joiner = (sep.replace("\\", "\\\\").replace("\n", "\\n")
                  .replace("'", "''"))
        return (f"array_join(transform({idx}, "
                f"i -> element_at({ln}, i)), '{joiner}')")
    sep_d = "chr(10)" if sep == "\n" else D.q(sep)
    ln = f"string_split(coalesce({text}, ''), {sep_d})"
    idx = (f"list_filter(generate_series(1, len({ln})), "
           f"i -> list_position({ln}, ({ln})[i]) = i)")
    return (f"array_to_string(list_transform({idx}, "
            f"i -> ({ln})[i]), {sep_d})")
