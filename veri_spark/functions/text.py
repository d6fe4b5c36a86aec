"""Text-analysis column expressions for the documents pipeline.

The reference stores opaque text labels and never analyzes them; these are
the north-star extensions (SURVEY.md section 7 phase 6) a training-data
pipeline needs: tokenization, shingling, language-ID heuristics, quality
scoring, fingerprinting. All native Column expressions — they run inside
codegen, and none of them shuffles on its own.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from veri_spark.functions.hashing import portable_hash64

# Tiny English stopword core used by the language heuristic. Deliberately
# short — the heuristic is a ratio, not a classifier.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

# The same list as a SQL IN-list literal, interpolated into every DuckDB
# oracle that mirrors the stopword heuristic — single source of truth so an
# edit to EN_STOPWORDS can never silently desynchronize an oracle (round-7
# advisor finding).
EN_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in EN_STOPWORDS)


def tokens(text: Column | str) -> Column:
    """Whitespace tokens. Single-space split to stay engine-portable; for
    messy real-world text swap in ``F.split(c, r'\\s+')``."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def word_shingles(toks: Column, k: int = 3, sep: str = " ") -> Column:
    """k-word shingles: [w1..wn] -> ["w1 w2 w3", "w2 w3 w4", ...].

    Empty array when the document has fewer than k tokens.

    NOTE: pass a *materialized column* (``withColumn`` the token array
    first), not an inline ``split(...)`` — Spark evaluates lambda-captured
    subexpressions per element, turning an inline split into O(len^2) work
    per document.
    """
    n = F.size(toks)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.concat_ws(sep, F.slice(toks, i, k)))


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def en_stopword_ratio(text: Column | str) -> Column:
    """Share of tokens that are core-English stopwords (language-ID signal)."""
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda w: w.isin(*EN_STOPWORDS)))
    return hits / F.size(toks)


def quality_score(text: Column | str) -> Column:
    """Heuristic quality in [0, 1]: length saturation x lexical diversity.

    ``min(1, n_tokens/64) * (distinct_tokens / n_tokens)`` — long, varied
    documents score high; short or highly repetitive ones score low.
    """
    toks = tokens(text)
    n = F.size(toks)
    return F.least(F.lit(1.0), n / F.lit(64.0)) * (
        F.size(F.array_distinct(toks)) / n
    )


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of normalized text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.lower(F.trim(c)))


def fingerprint_int(text: Column | str) -> Column:
    """60-bit integer fingerprint (join/partition friendly)."""
    c = F.col(text) if isinstance(text, str) else text
    return portable_hash64(F.lower(F.trim(c)))


# GPT-2-style pretokenizer regex, simplified to an engine-portable subset:
# a token is a contraction suffix, a letter run (with optional leading
# space), a digit run, a punctuation run, or residual whitespace. This is
# the unit a BPE tokenizer would merge within; counting these approximates
# LLM token counts far better than whitespace words on code/punctuated text.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_token_count(text: Column | str) -> Column:
    """Approximate LLM token count: number of BPE-style pretokens
    (``regexp_count`` runs JVM-side; no UDF)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_SPLIT_PATTERN))


def char_ngrams(text: Column | str, n: int = 3) -> Column:
    """Character n-grams of the lowercased text (language-ID / script
    profiling signal). Pure array expression — no explode, no shuffle;
    empty array for texts shorter than ``n``.

    Implemented as ONE overlapping-window regex pass
    (``(?=(.{n})).`` lookahead capture at each position): the naive
    ``transform(sequence(...), i -> substr(lower(t), i, n))`` inlines
    ``lower(t)`` into the lambda, re-lowercasing the whole string per
    n-gram — O(len^2) per document, measured ~9x slower at sf0.1."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(
        F.lower(c), F.lit(f"(?s)(?=(.{{{int(n)}}}))."), 1
    )
