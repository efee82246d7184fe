"""Code-aware analyzer (SURVEY.md B1).

The reference ships analyzer config opaquely to Elasticsearch
(/root/reference/run.go:166-198); the north star requires we own it:
camelCase/snake_case splitting, lowercasing, stopword removal.

The analyzer is THE determinism-critical component: index build, query
analysis, the DataFrame full-scan oracle, and the DuckDB oracle SQL must
all tokenize byte-identically. It is therefore specified ONCE here as a
regex pipeline and rendered three ways:

1. ``tokens_col``      — native Catalyst expressions: ONE
                         regexp_extract_all pass with the piece grammar
                         + per-token lower/filter. Stays inside
                         whole-stage codegen; the fast path for index
                         builds (3.3x the two-replace+split chain, which
                         remains as ``tokens_col_spec`` — the semantic
                         definition both are fuzz-checked against).
2. ``tokenize_text``   — pure Python, same regexes. Query-string
                         analysis + unit-test golden.
3. ``duckdb_tokens_sql`` — the equivalent DuckDB SQL fragment, used by
                         ``oracle_sql()`` entries.

Spec (applies to all three):
  a. insert a space between an acronym run and a following capitalized
     word:   ([A-Z]+)([A-Z][a-z])  ->  "$1 $2"     (HTTPServer -> HTTP Server)
  b. insert a space at lower/digit -> upper boundaries:
           ([a-z0-9])([A-Z])       ->  "$1 $2"     (camelCase -> camel Case)
  c. lowercase
  d. split on runs of anything outside [a-z0-9] (underscore is a
     separator: snake_case splits; only ASCII alnum tokens survive, so
     engine-specific unicode lowercasing cannot cause divergence)
  e. drop empty tokens, tokens longer than 64 chars, and stopwords
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small English function-word list. Code keywords (return/def/if/...) are
# deliberately NOT stopwords: they are legitimate code-search terms and the
# Zipf-hot ones exercise posting-list skew handling (SURVEY.md §4.2).
STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
    "in", "is", "it", "of", "on", "or", "that", "the", "this", "to", "with",
)

MAX_TOKEN_LEN = 64

# Java regex (Spark), RE2 (DuckDB) and Python `re` agree on these patterns.
_ACRONYM_PAT = r"([A-Z]+)([A-Z][a-z])"
_CAMEL_PAT = r"([a-z0-9])([A-Z])"
_SPLIT_PAT = r"[^a-z0-9]+"

_ACRONYM_RE = re.compile(_ACRONYM_PAT)
_CAMEL_RE = re.compile(_CAMEL_PAT)
_SPLIT_RE = re.compile(_SPLIT_PAT)
_STOPSET = frozenset(STOPWORDS)

# Single-pass findall equivalent of the sub/sub/lower/split pipeline —
# ~1.75x faster, fuzz-verified identical (tests/test_analyzer.py).
# Piece grammar derived from the two boundary rules: an uppercase run
# keeps trailing digits (and lowercase after digits), unless its last
# capital starts a Capitalized word (acronym rule); backtracking in
# `[A-Z]+(?![a-z])` peels that last capital off.
_PIECE_PAT = r"[A-Z]+(?![a-z])[a-z0-9]*|[A-Z][a-z0-9]*|[a-z0-9]+"
_PIECE_RE = re.compile(_PIECE_PAT)

ANALYZER_VERSION = "code-v1"


def tokens_col(col: Column | str) -> Column:
    """Native-expression tokenizer: array<string> of analyzed tokens.

    Pure Catalyst, single regexp_extract_all pass with the piece grammar
    (the same _PIECE_RE findall the Python rendering uses) + per-token
    lower/filter — runs JVM-side inside whole-stage codegen, no Python in
    the loop. 3.3x faster than the equivalent two-regexp_replace + split
    chain (no giant intermediate strings); fuzz-asserted token-identical
    to tokens_col_spec and tokenize_text (tests/test_analyzer.py).
    """
    c = F.col(col) if isinstance(col, str) else col
    arr = F.regexp_extract_all(c, F.lit(_PIECE_PAT), 0)
    arr = F.transform(arr, lambda t: F.lower(t))
    return F.filter(
        arr,
        lambda t: (F.length(t) <= F.lit(MAX_TOKEN_LEN)) & ~t.isin(*STOPWORDS),
    )


def tokens_col_spec(col: Column | str) -> Column:
    """The spec pipeline rendered verbatim as Catalyst expressions
    (regexp_replace/lower/split/filter) — the semantic definition;
    tokens_col is the optimized equivalent and must match it exactly."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.regexp_replace(c, _ACRONYM_PAT, r"$1 $2")
    s = F.regexp_replace(s, _CAMEL_PAT, r"$1 $2")
    s = F.lower(s)
    arr = F.split(s, _SPLIT_PAT)
    return F.filter(
        arr,
        lambda t: (t != F.lit(""))
        & (F.length(t) <= F.lit(MAX_TOKEN_LEN))
        & ~t.isin(*STOPWORDS),
    )


def tokenize_text(text: str) -> list[str]:
    """Pure-Python rendering of the same spec (index build fast path,
    query analysis). Single findall pass; equivalence with the reference
    sub/split pipeline is fuzz-tested."""
    if text is None:
        return []
    out = []
    for m in _PIECE_RE.findall(text):
        t = m.lower()
        if len(t) <= MAX_TOKEN_LEN and t not in _STOPSET:
            out.append(t)
    return out


def tokenize_text_reference(text: str) -> list[str]:
    """The spec pipeline verbatim (two boundary subs, lower, split) —
    the semantic definition that the Catalyst/DuckDB renderings mirror
    and that tokenize_text must match exactly."""
    if text is None:
        return []
    s = _ACRONYM_RE.sub(r"\1 \2", text)
    s = _CAMEL_RE.sub(r"\1 \2", s)
    toks = _SPLIT_RE.split(s.lower())
    return [
        t for t in toks
        if t and len(t) <= MAX_TOKEN_LEN and t not in _STOPSET
    ]


def analyze_query(text: str) -> list[str]:
    """Query analysis: analyzed tokens, de-duplicated, sorted.

    Duplicate query terms score once (spec choice, documented; the
    full-scan oracle and WAND both follow it)."""
    return sorted(set(tokenize_text(text)))


def duckdb_tokens_sql(col_expr: str) -> str:
    """DuckDB SQL fragment producing the same token list (oracle side)."""
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    return (
        "list_filter(regexp_split_to_array(lower("
        f"regexp_replace(regexp_replace({col_expr}, "
        f"'{_ACRONYM_PAT}', '\\1 \\2', 'g'), "
        f"'{_CAMEL_PAT}', '\\1 \\2', 'g')), '{_SPLIT_PAT}'), "
        f"t -> t <> '' AND length(t) <= {MAX_TOKEN_LEN} "
        f"AND t NOT IN ({stop}))"
    )


# ---------------------------------------------------------------- stemming
#
# Harman S-stemmer (public: Donna Harman, "How Effective Is Suffixing?",
# JASIS 1991): three ordered plural-stripping rules. Like the tokenizer,
# it is defined ONCE and rendered three ways (Python / Catalyst SQL /
# DuckDB SQL) that must agree byte-identically:
#   1. -ies -> -y      unless the word ends in -eies / -aies
#   2. -es  -> -e      (drop the s) unless it ends in -aes / -ees / -oes
#   3. -s   -> drop    unless it ends in -us / -ss, and only for words
#                      longer than 3 chars (guard added to the public
#                      rule set so 2-3 letter tokens never shrink)
# The FIRST matching ending decides: an exception leaves the word
# unchanged (no fall-through — "goes" and "trees" keep their s).

def stem_s(token: str) -> str:
    """Pure-Python rendering of the S-stemmer."""
    t = token
    if t.endswith("ies"):
        return t if t.endswith(("eies", "aies")) else t[:-3] + "y"
    if t.endswith("es"):
        return t if t.endswith(("aes", "ees", "oes")) else t[:-1]
    if t.endswith("s"):
        if t.endswith(("us", "ss")) or len(t) <= 3:
            return t
        return t[:-1]
    return t


def stem_s_col(c: Column) -> Column:
    """Catalyst rendering: per-token S-stemmer expression (usable on a
    string column or inside a transform lambda) — stays in codegen."""
    drop = lambda n: F.substr(c, F.lit(1), F.length(c) - n)
    return (
        F.when(
            c.endswith("ies"),
            F.when(
                c.endswith("eies") | c.endswith("aies"), c
            ).otherwise(F.concat(drop(3), F.lit("y"))),
        )
        .when(
            c.endswith("es"),
            F.when(
                c.endswith("aes") | c.endswith("ees") | c.endswith("oes"), c
            ).otherwise(drop(1)),
        )
        .when(
            c.endswith("s"),
            F.when(
                c.endswith("us") | c.endswith("ss") | (F.length(c) <= 3), c
            ).otherwise(drop(1)),
        )
        .otherwise(c)
    )


def duckdb_stem_sql(var: str) -> str:
    """DuckDB rendering of the same rules over the SQL expression
    ``var`` (oracle side)."""
    return (
        f"CASE WHEN {var} LIKE '%ies' THEN "
        f"(CASE WHEN {var} LIKE '%eies' OR {var} LIKE '%aies' THEN {var} "
        f"ELSE substr({var}, 1, length({var}) - 3) || 'y' END) "
        f"WHEN {var} LIKE '%es' THEN "
        f"(CASE WHEN {var} LIKE '%aes' OR {var} LIKE '%ees' "
        f"OR {var} LIKE '%oes' THEN {var} "
        f"ELSE substr({var}, 1, length({var}) - 1) END) "
        f"WHEN {var} LIKE '%s' THEN "
        f"(CASE WHEN {var} LIKE '%us' OR {var} LIKE '%ss' "
        f"OR length({var}) <= 3 THEN {var} "
        f"ELSE substr({var}, 1, length({var}) - 1) END) "
        f"ELSE {var} END"
    )
