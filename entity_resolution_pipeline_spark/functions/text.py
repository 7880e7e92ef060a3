"""Tokenization, n-grams, and text-analysis columns.

All pure Column expressions — tokenization is `split`, word n-grams are
a `transform(sequence(...))` over the token array (reference computes
them row-wise in Python at pipeline/utils.py:23-30), char n-grams use
the reference's space-padding convention (pipeline/utils.py:12-19).

The n-gram builders bind their input with :func:`let` before any
lambda refers to it, so it is evaluated once per row, not once per
window.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import STOPWORDS


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of already-normalized text; empty string → []."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(c) > 0, F.split(c, " ")).otherwise(
        F.array().cast("array<string>")
    )


def distinct_tokens(col: Column | str) -> Column:
    """Per-row token *set* — the reference dedups tokens per record before
    indexing (set() at pipeline/utils.py:91)."""
    return F.array_distinct(tokens(col))


def tokens_without_stopwords(col: Column | str) -> Column:
    """Distinct tokens minus the stopword set (pipeline/blocking.py:16,
    utils.py:92).  The stopword set is a broadcast-sized literal array —
    Catalyst constant-folds it; no join needed."""
    return F.array_except(distinct_tokens(col), F.array(*[F.lit(s) for s in STOPWORDS]))


def let(value: Column | str, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once per row.

    Written ``transform(array(value), body)[0]``: the one-element array
    holds the evaluated value and ``body`` sees it as a lambda variable.
    A lambda that captures an outer expression instead re-evaluates it
    on every call, e.g. ``normalize_text``'s two ``regexp_replace`` once
    per n-gram window, and whole-stage codegen does not share
    subexpressions under a higher-order function.  NULL ``value`` →
    ``body(NULL)``."""
    v = F.col(value) if isinstance(value, str) else value
    return F.transform(F.array(v), body)[0]


def token_ngrams(toks: Column, n: int) -> Column:
    """Space-joined n-token windows of a token array column; [] when it
    has fewer than n tokens (or is NULL)."""
    return let(
        toks,
        lambda t: F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def word_ngrams(col: Column | str, n: int) -> Column:
    """Space-joined word n-grams of normalized text
    (pipeline/utils.py:23-30): sliding window of n tokens.

    Pure SQL: transform(sequence(1, size-n+1)) → slice → concat over the
    tokens, which are computed once per row.  Returns [] when the text
    has fewer than n tokens, like the reference.
    """
    return let(col, lambda s: token_ngrams(tokens(s), n))


def char_ngrams(col: Column | str, n: int = 3) -> Column:
    """Distinct character n-grams with (n-1)-space padding on both ends
    (pipeline/utils.py:12-19).  Empty/None text → [] (reference returns
    an empty set)."""
    pad = F.lit(" " * (n - 1))
    return let(
        col,
        lambda s: F.when(
            F.length(s) > 0,
            let(
                F.concat(pad, s, pad),
                lambda p: F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.length(p) - (n - 1)),
                        lambda i: F.substring(p, i, n),
                    )
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


# ---------------------------------------------------------------------------
# Training-data text analysis (documents-table operators)
# ---------------------------------------------------------------------------

def token_count(col: Column | str) -> Column:
    """Whitespace token count of raw text (0 for empty/blank)."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(F.length(t) > 0, F.size(F.split(t, "\\s+"))).otherwise(F.lit(0))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count: splits on word/punct boundaries with a
    BPE-flavored regex (letter runs, digit runs, single punctuation) —
    a deterministic proxy for tokenizer cost accounting."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    return F.size(pieces)


def stopword_ratio(col: Column | str) -> Column:
    """Fraction of (non-distinct) whitespace tokens that are stopwords —
    a quality-scoring feature; high ratio ≈ natural prose."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(normalize_col(c))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return F.when(F.size(toks) > 0, n_stop / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(col: Column | str) -> Column:
    """Punctuation chars / total chars (0 for empty)."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Composite document quality in [0,1]: length band + low punctuation
    + prose-like stopword ratio.  Deterministic, builtin-only."""
    c = F.col(col) if isinstance(col, str) else col
    len_ok = F.when((F.length(c) >= 50) & (F.length(c) <= 100000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(c) < 0.2, 1.0).otherwise(0.0)
    stop_ok = F.when(stopword_ratio(c) > 0.05, 1.0).otherwise(0.0)
    return (len_ok + punct_ok + stop_ok) / F.lit(3.0)


_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    # tiny deterministic function-word lists; language with most hits wins
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "des"),
    "es": ("el", "los", "las", "es", "una", "en", "que", "por", "para", "con"),
}


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: count function-word hits per language over
    the distinct token set, argmax with 'und' (undetermined) fallback.
    Builtin-only n-gram/function-word heuristic — no model, no Python."""
    toks = distinct_tokens(normalize_col(col))
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        scores.append(
            F.struct(
                F.size(F.array_intersect(toks, marker_arr)).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    # array_max over (hits, lang) structs: ties break on lang string desc —
    # deterministic; zero hits → 'und'.
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def doc_fingerprint(col: Column | str, k: int = 8) -> Column:
    """Rolling-hash document fingerprint: the minimum md5 over all
    character k-grams of the normalized text (winnowing-style min-hash
    selection with a single global window).  Near-identical docs share
    the fingerprint with high probability; portable to SQL byte-for-byte
    (md5 hex + lexicographic min)."""
    return let(
        normalize_col(F.col(col) if isinstance(col, str) else col),
        lambda c: F.when(
            F.length(c) > 0,
            F.array_min(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length(c) - (k - 1), F.lit(1))),
                    lambda i: F.md5(F.substring(c, i, k)),
                )
            ),
        ).otherwise(F.lit(None)),
    )


def normalize_col(c: Column) -> Column:
    from .normalize import normalize_text

    return normalize_text(c)
