"""Text-analysis column functions for training-data pipelines.

All pure `pyspark.sql.functions` Column expressions — JVM-side,
whole-stage-codegen, no Python in the hot path. Designed to run over a
100 TB `documents`/`transcripts` text column: every function is a scalar
projection (no shuffle), so it rides the scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Per-language marker stopwords for the n-gram/stopword language-ID
# heuristic. Deterministic and tiny by design — precision at scale comes
# from more markers, not a different algorithm.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "que", "los", "una"],
    "fr": ["le", "les", "des", "est", "une"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "zh": ["的", "是", "了", "在", "我"],
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed text (empty text → empty array)."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def distinct_token_count(col: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(col)))


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are not alnum/space."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"[A-Za-z0-9\s]", "")
    return F.when(F.length(c) > 0, F.length(stripped) / F.length(c)).otherwise(
        F.lit(0.0)
    )


def mean_token_length(col: Column | str) -> Column:
    """Mean whitespace-token length.

    Round 7: the sum of token lengths IS the count of non-whitespace
    characters (tokens are exactly the maximal non-\\s runs, and splitting
    drops only whitespace), so one codegen'd regexp_replace+length replaces
    the interpreted per-element aggregate() fold — same integer total,
    same division, bit-identical result."""
    c = F.col(col) if isinstance(col, str) else col
    tok = tokens(col)
    total = F.length(F.regexp_replace(c, r"\s", ""))
    return F.when(F.size(tok) > 0, total / F.size(tok)).otherwise(F.lit(0.0))


def _marker_hits(c: Column, words: list[str]) -> Column:
    """Count of whitespace-tokens of ``c`` whose lowercase form is in
    ``words``, as ONE codegen'd regexp_count instead of an interpreted
    filter() lambda over the token array.

    Equivalence: a token is a maximal non-\\s run, so it matches iff the
    run equals a marker word — anchored left by start-or-\\s (the consumed
    separator belongs to the PREVIOUS gap; \\s+ gaps keep ≥1 char for the
    lookbehind of the next match because the right anchor is a zero-width
    lookahead) and right by the (?=\\s|$) lookahead. Marker words are
    alphanumeric/CJK literals (no regex metacharacters)."""
    pat = "(^|\\s)(" + "|".join(words) + ")(?=\\s|$)"
    return F.regexp_count(F.lower(c), F.lit(pat))


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens in a stopword list (quality-scoring feature)."""
    sw = stopwords or LANG_MARKERS["en"]
    c = F.col(col) if isinstance(col, str) else col
    tok = tokens(col)
    hits = _marker_hits(c, sw)
    return F.when(F.size(tok) > 0, hits / F.size(tok)).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality score: length band + low punct + stopword
    presence. Heuristic analog of common pretraining quality filters
    (C4/Gopher-style rules), fully vectorized."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    len_ok = F.when((n >= 50) & (n <= 100_000), F.lit(1.0)).otherwise(
        F.when(n > 0, F.lit(0.3)).otherwise(F.lit(0.0))
    )
    punct_ok = F.lit(1.0) - F.least(punct_ratio(c) * 4, F.lit(1.0))
    sw_ok = F.least(stopword_ratio(c) * 5, F.lit(1.0))
    return F.round((len_ok * 0.4 + punct_ok * 0.3 + sw_ok * 0.3), 6)


def lang_id(col: Column | str, markers: dict[str, list[str]] | None = None) -> Column:
    """Language-ID by marker-token hit count; deterministic argmax with
    first-declared-language tiebreak. Pure Column expr (no UDF)."""
    markers = markers or LANG_MARKERS
    c = F.col(col) if isinstance(col, str) else col
    scores = []
    for lang, words in markers.items():
        # codegen'd regexp_count per language (round 7) — identical hit
        # counts to the old interpreted filter(tokens) lambda, see
        # _marker_hits for the anchoring argument
        scores.append((lang, _marker_hits(c, words)))
    # argmax via chained whens against the running max, tie → earlier lang
    best = F.greatest(*[s for _, s in scores]) if len(scores) > 1 else scores[0][1]
    expr = F.lit("und")
    for lang, s in reversed(scores):
        expr = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercased text.
    md5 (not xxhash64) so external engines (DuckDB oracle, downstream
    systems) reproduce it bit-for-bit."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))
    return F.md5(normalized)
