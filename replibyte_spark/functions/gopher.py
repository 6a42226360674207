"""Gopher quality rules — the published MassiveText document filter
(Rae et al. 2021, "Scaling Language Models: Methods, Analysis & Insights
from Training Gopher", appendix A1.1) restated as ONE whole-stage-codegen
projection per document.

The seven rules, with the exact published thresholds:

1. word count in [50, 100 000]
2. mean word length in [3, 10] characters
3. symbol-to-word ratio ('#' and ellipsis) ≤ 0.1
4. ≥ 90% of lines do NOT start with a bullet point
5. ≤ 30% of lines end with an ellipsis
6. ≥ 80% of words contain at least one alphabetic character
7. at least 2 of the 8 "required" English stop words occur
   (the/be/to/of/and/that/have/with)

Every ratio threshold is evaluated as an INTEGER cross-multiplication
(mean length in [3,10] ⇔ 3·n_words ≤ Σ|word| ≤ 10·n_words, symbol ratio
≤ 0.1 ⇔ 10·n_sym ≤ n_words, …), so there is no float-divergence surface
at all between the Spark plan and the DuckDB oracle — the flags are
bit-trivially identical by construction.  No explode, no join, no
shuffle, no UDF: at 100 TB the cost is the scan itself.

Caveat recorded, not hidden: rules 6–7 are English-/Latin-centric
exactly as published (a Cyrillic document has zero [a-z] words and zero
English stop words) — run the filter per language bucket after LID, the
way the Gopher pipeline itself did.

Reference analogue: Replibyte has no text analytics (SURVEY.md §2.9);
this extends functions/text.py's quality layer with the named,
thresholded, citable rule set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import dialect as D

MIN_WORDS, MAX_WORDS = 50, 100_000
MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN = 3, 10
REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that",
                      "have", "with")
MIN_REQUIRED_STOPWORDS = 2
BULLET_PREFIXES = ("•", "‣", "▪", "-", "*")

#: rule name → short description (drives flag column names + summaries)
GOPHER_RULES = {
    "word_count": "word count in [50, 100000]",
    "mean_word_len": "mean word length in [3, 10]",
    "symbol_ratio": "'#'/ellipsis symbol-to-word ratio <= 0.1",
    "bullet_lines": ">= 90% of lines do not start with a bullet",
    "ellipsis_lines": "<= 30% of lines end with an ellipsis",
    "alpha_words": ">= 80% of words contain an alphabetic char",
    "stop_words": ">= 2 of the 8 required stop words occur",
}


def words_sql(d: str, text: str) -> str:
    """Lowercased whitespace words, empty tokens removed (the shared
    tokenizer semantics of functions/text.py)."""
    toks = D.split_ws(d, f"lower(coalesce({text}, ''))")
    return D.array_filter(d, toks, "x -> x <> ''")


def lines_sql(d: str, text: str) -> str:
    """Raw lines (newline split, NULL → one empty line)."""
    if d == D.SPARK:
        return f"split(coalesce({text}, ''), '\\n')"
    return f"string_split(coalesce({text}, ''), chr(10))"


def _occ(t: str, gram: str) -> str:
    g = D.q(gram)
    n = len(gram)
    body = f"(length({t}) - length(replace({t}, {g}, '')))"
    return body if n == 1 else f"({body} / {n})"


def gopher_stats_sql(d: str, text: str, words: str | None = None,
                     lines: str | None = None) -> "dict[str, str]":
    """The integer per-document statistics every rule derives from.
    Pass `words`/`lines` as STAGED column references on hot paths (one
    split each, reused by every stat); defaults inline them."""
    w = words or words_sql(d, text)
    ln = lines or lines_sql(d, text)
    t = f"coalesce({text}, '')"
    if d == D.SPARK:
        word_chars = (f"aggregate(transform({w}, x -> length(x)), 0, "
                      f"(acc, x) -> acc + x)")
    else:
        word_chars = (f"coalesce(list_sum(list_transform({w}, "
                      f"x -> length(x))), 0)")
    bullets = ", ".join(D.q(b) for b in BULLET_PREFIXES)
    bullet_pred = (f"x -> substring(ltrim(x), 1, 1) IN ({bullets})"
                   if d == D.SPARK else
                   f"x -> ltrim(x)[1:1] IN ({bullets})")
    ell_pred = ("x -> right(rtrim(x), 3) = '...' OR "
                "right(rtrim(x), 1) = '…'")
    alpha_pred = ("x -> x RLIKE '[a-z]'" if d == D.SPARK
                  else "x -> regexp_matches(x, '[a-z]')")
    contains = (lambda word:
                f"array_contains({w}, {D.q(word)})" if d == D.SPARK
                else f"list_contains({w}, {D.q(word)})")
    stop_hits = " + ".join(
        f"(CASE WHEN {contains(s)} THEN 1 ELSE 0 END)"
        for s in REQUIRED_STOPWORDS)
    return {
        "n_words": D.array_len(d, w),
        "word_chars": word_chars,
        "n_sym": f"({_occ(t, '#')} + {_occ(t, '…')} + {_occ(t, '...')})",
        "n_lines": D.array_len(d, ln),
        "n_bullet_lines": D.array_len(
            d, D.array_filter(d, ln, bullet_pred)),
        "n_ellipsis_lines": D.array_len(
            d, D.array_filter(d, ln, ell_pred)),
        "n_alpha_words": D.array_len(
            d, D.array_filter(d, w, alpha_pred)),
        "n_stop_hits": f"({stop_hits})",
    }


def gopher_flag_sqls(stats: "dict[str, str]",
                     min_words: int = MIN_WORDS,
                     max_words: int = MAX_WORDS) -> "dict[str, str]":
    """rule name → boolean SQL over the stat refs (pass staged column
    NAMES as `stats` values on hot paths).  All integer arithmetic.
    `min_words`/`max_words` default to the published thresholds."""
    s = stats
    return {
        "word_count":
            f"({s['n_words']} >= {min_words} AND "
            f"{s['n_words']} <= {max_words})",
        "mean_word_len":
            f"({s['n_words']} > 0 AND "
            f"{MIN_MEAN_WORD_LEN} * {s['n_words']} <= {s['word_chars']} "
            f"AND {s['word_chars']} <= "
            f"{MAX_MEAN_WORD_LEN} * {s['n_words']})",
        "symbol_ratio": f"(10 * {s['n_sym']} <= {s['n_words']})",
        "bullet_lines":
            f"(10 * {s['n_bullet_lines']} <= {s['n_lines']})",
        "ellipsis_lines":
            f"(10 * {s['n_ellipsis_lines']} <= 3 * {s['n_lines']})",
        "alpha_words":
            f"({s['n_words']} > 0 AND "
            f"5 * {s['n_alpha_words']} >= 4 * {s['n_words']})",
        "stop_words":
            f"({s['n_stop_hits']} >= {MIN_REQUIRED_STOPWORDS})",
    }


def gopher_flags(df: DataFrame, text_col: str = "text",
                 min_words: int = MIN_WORDS,
                 max_words: int = MAX_WORDS,
                 prefix: str = "gq_") -> DataFrame:
    """Append one boolean column per rule (`gq_<rule>`) plus the
    conjunction `gopher_pass`.  Staged like identify_language: the word
    and line arrays land in their own columns (each split runs once),
    the integer stats derive from those, the flags from the stats —
    everything one codegen projection chain over the scan, locked
    shuffle-free by the unit tests."""
    # compute-heavy projection over a possibly-narrow scan: widen first
    # (no-op on an already-wide input; see repetition_flags' r12 note —
    # a one-split corpus otherwise runs every rule on one core)
    from ..util import fan_out

    df = fan_out(df)
    d = D.SPARK
    wc, lc = "__gq_words", "__gq_lines"
    staged = (df.withColumn(wc, F.expr(words_sql(d, text_col)))
              .withColumn(lc, F.expr(lines_sql(d, text_col))))
    stats = gopher_stats_sql(d, text_col, words=wc, lines=lc)
    stat_cols = {k: f"__gq_{k}" for k in stats}
    for k, expr in stats.items():
        staged = staged.withColumn(stat_cols[k], F.expr(expr))
    flags = gopher_flag_sqls(stat_cols, min_words, max_words)
    for rule, expr in flags.items():
        staged = staged.withColumn(prefix + rule, F.expr(expr))
    passed = " AND ".join(prefix + r for r in flags)
    return (staged.withColumn("gopher_pass", F.expr(passed))
            .drop(wc, lc, *stat_cols.values()))


def gopher_filter(df: DataFrame, text_col: str = "text",
                  min_words: int = MIN_WORDS,
                  max_words: int = MAX_WORDS) -> DataFrame:
    """Documents passing ALL rules, flag columns dropped — the
    composable curation step (chain before dedup/mixing)."""
    flagged = gopher_flags(df, text_col, min_words, max_words)
    return (flagged.filter(F.col("gopher_pass"))
            .drop("gopher_pass",
                  *[c for c in flagged.columns if c.startswith("gq_")]))
