"""Pairwise string-similarity columns.

Reference formulas (pipeline/matching.py:84-96):

* ``levenshtein_sim(s1,s2) = 1 - dist/max(len)``, 0 when both empty —
  pure Catalyst builtin here (whole-stage codegen, no Python at all);
  the reference needed a C extension + per-row Spark UDF
  (distributed_er_pipeline.py:108-113).
* ``jaccard_sim`` over whitespace token sets — array builtins.
* ``trigram_sim`` = Dice over padded char-trigram sets — array builtins.
* ``jaro_winkler`` (added per the north rule) — Arrow-batched pandas
  UDF; no vectorized JVM builtin exists.  Each batch runs the C kernel
  in ``_jw_native``, or the scalar :func:`jaro_winkler_py` when no C
  compiler is present — never row-at-a-time through py4j.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from .text import char_ngrams, distinct_tokens


def levenshtein_sim(c1: Column | str, c2: Column | str) -> Column:
    """1 − levenshtein/max(len); 0 when both strings empty
    (pipeline/matching.py:95-96)."""
    a = F.col(c1) if isinstance(c1, str) else c1
    b = F.col(c2) if isinstance(c2, str) else c2
    mx = F.greatest(F.length(a), F.length(b))
    return F.when(mx > 0, 1.0 - F.levenshtein(a, b) / mx).otherwise(F.lit(0.0))


def jaccard_sim(c1: Column | str, c2: Column | str) -> Column:
    """|T1 ∩ T2| / |T1 ∪ T2| over whitespace token sets; 0 on empty union
    (pipeline/matching.py:84-87)."""
    return jaccard_sim_arrays(distinct_tokens(c1), distinct_tokens(c2))


def jaccard_sim_arrays(t1: Column, t2: Column) -> Column:
    """Jaccard over two *pre-deduped* token-array columns.

    Scale path: compute the token set ONCE per record (O(docs)), join
    pairs to the arrays, intersect per pair — instead of re-deriving the
    set from the string per pair row (O(pairs × doc_len), ~20-50×
    redundant when each record appears in many candidate pairs).
    """
    union = F.size(F.array_union(t1, t2))
    inter = F.size(F.array_intersect(t1, t2))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def dice_sim_arrays(g1: Column, g2: Column) -> Column:
    """Dice coefficient over two pre-deduped n-gram-array columns (same
    precompute-per-record rationale as :func:`jaccard_sim_arrays`)."""
    denom = F.size(g1) + F.size(g2)
    inter = F.size(F.array_intersect(g1, g2))
    return F.when(denom > 0, 2.0 * inter / denom).otherwise(F.lit(0.0))


def trigram_sim(c1: Column | str, c2: Column | str, n: int = 3) -> Column:
    """Dice coefficient 2|G1∩G2|/(|G1|+|G2|) over padded char n-gram sets
    (pipeline/matching.py:90-92, gram builder pipeline/utils.py:12-19)."""
    return dice_sim_arrays(char_ngrams(c1, n), char_ngrams(c2, n))


def _jaro(s1: str, s2: str) -> float:
    """Standard Jaro similarity (match window = max(len)/2 - 1)."""
    len1, len2 = len(s1), len(s2)
    # DuckDB parity: either side empty → 0 (even for "" vs "").
    if len1 == 0 or len2 == 0:
        return 0.0
    if s1 == s2:
        return 1.0
    window = max(len1, len2) // 2 - 1
    if window < 0:
        window = 0
    flags1 = [False] * len1
    flags2 = [False] * len2
    matches = 0
    for i, ch in enumerate(s1):
        lo = max(0, i - window)
        hi = min(i + window + 1, len2)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == ch:
                flags1[i] = True
                flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    k = 0
    for i in range(len1):
        if flags1[i]:
            while not flags2[k]:
                k += 1
            if s1[i] != s2[k]:
                transpositions += 1
            k += 1
    # Integer-floor the half-transposition count (DuckDB/rapidfuzz
    # convention; the classic fractional t/2 differs on odd counts).
    t = transpositions // 2
    m = matches
    return (m / len1 + m / len2 + (m - t) / m) / 3.0


def jaro_winkler_py(s1: str, s2: str, prefix_weight: float = 0.1, boost_threshold: float = 0.7) -> float:
    """Jaro-Winkler with standard prefix boost (≤4 chars, applied only when
    jaro > 0.7) — parity-checked in tests against DuckDB's
    ``jaro_winkler_similarity`` so the oracle hashes match."""
    j = _jaro(s1 or "", s2 or "")
    if j > boost_threshold:
        prefix = 0
        for a, b in zip((s1 or "")[:4], (s2 or "")[:4]):
            if a == b:
                prefix += 1
            else:
                break
        j += prefix * prefix_weight * (1.0 - j)
    return j


def jaro_winkler_batch(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """Jaro-Winkler over two string Series (NULL scores as "").

    The lazily compiled C batch kernel when a system compiler exists,
    else :func:`jaro_winkler_py` pair by pair — the parity oracle the
    C kernel is property-tested against.
    """
    from . import _jw_native

    a = s1.fillna("").tolist()
    b = s2.fillna("").tolist()
    out = _jw_native.jw_batch(a, b)
    if out is None:
        out = [jaro_winkler_py(x, y) for x, y in zip(a, b)]
    return pd.Series(out, index=s1.index, dtype="float64")


#: Arrow-batched Jaro-Winkler: whole Arrow batches per call, no per-row
#: py4j crossing (contrast reference distributed_er_pipeline.py:108-113)
jaro_winkler_udf = pandas_udf(jaro_winkler_batch, DoubleType())


def jaro_winkler_sim(c1: Column | str, c2: Column | str) -> Column:
    a = F.col(c1) if isinstance(c1, str) else c1
    b = F.col(c2) if isinstance(c2, str) else c2
    return jaro_winkler_udf(a, b)


class SimMethod(NamedTuple):
    """A matching method split at the record/pair boundary.

    ``feature`` maps a normalized string to its per-record
    representation, computed once per record; ``sim`` scores two
    representations into [0, 1].  ``set_based`` marks the
    array-intersection similarities, cheap enough for every candidate
    pair; the others are string kernels, run only on the pairs an upper
    bound of the score cannot reject (see ``operators.matching``).
    """

    feature: Callable[[Column], Column]
    sim: Callable[[Column, Column], Column]
    set_based: bool


SIM_METHODS = {
    "levenshtein": SimMethod(lambda c: c, levenshtein_sim, False),
    "jaccard": SimMethod(distinct_tokens, jaccard_sim_arrays, True),
    "trigram": SimMethod(char_ngrams, dice_sim_arrays, True),
    "jaro_winkler": SimMethod(lambda c: c, jaro_winkler_sim, False),
}
