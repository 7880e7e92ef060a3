"""Unit tests: normalization, tokenization, n-grams, similarity — each
Spark column function vs the reference formulas (driver-side oracles in
helpers.py) and, where an oracle-parity contract exists, vs DuckDB.
"""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from entity_resolution_pipeline_spark.functions.normalize import (
    normalize_text,
    normalize_text_sql,
)
from entity_resolution_pipeline_spark.functions.similarity import (
    jaccard_sim,
    jaro_winkler_py,
    levenshtein_sim,
    trigram_sim,
)
from entity_resolution_pipeline_spark.functions.text import (
    char_ngrams,
    doc_fingerprint,
    token_count,
    word_ngrams,
)
from entity_resolution_pipeline_spark.operators.linkage import _combined_ngrams

from .helpers import (
    char_ngrams_py,
    jaccard_sim_py,
    levenshtein_sim_py,
    normalize_py,
    trigram_sim_py,
    word_ngrams_py,
)

CASES = [
    "Entity Resolution: A Survey!",
    "  J. Smith, A. Jones & B. Lee  ",
    "ÜBER-cool TITLE (2024)",
    "",
    "a",
    "The    quick   brown. FOX!!",
    "123 abc 456",
]

PAIRS = [
    ("entity resolution survey", "entity resolution a survey"),
    ("abc", "abd"),
    ("same string", "same string"),
    ("", ""),
    ("", "nonempty"),
    ("kitten", "sitting"),
    ("data cleaning at scale", "scale at cleaning data"),
]


def _one_col(spark, values, expr, alias="v"):
    df = spark.createDataFrame([(v,) for v in values], ["s"])
    return [r[alias] for r in df.select(expr.alias(alias)).collect()]


def test_normalize_matches_reference_chain(spark):
    got = _one_col(spark, CASES, normalize_text("s"))
    assert got == [normalize_py(c) for c in CASES]


def test_normalize_sql_twin_matches_duckdb(spark):
    """The SQL rendering used by the DuckDB oracles computes identical
    bytes to the Spark column expression."""
    got_spark = _one_col(spark, CASES, normalize_text("s"))
    con = duckdb.connect()
    got_duck = [
        con.execute(f"select {normalize_text_sql('?')}", [c]).fetchone()[0]
        for c in CASES
    ]
    assert got_spark == got_duck


def test_word_ngrams(spark):
    texts = ["a b c d e", "a b", "a b c", "", None]
    got = _one_col(spark, texts, word_ngrams("s", 3))
    assert got == [word_ngrams_py(t or "", 3) for t in texts]
    # it takes normalized text: a single-space split keeps the empty
    # token a run of spaces leaves, so raw text is normalized first
    assert _one_col(spark, ["a  b c"], word_ngrams("s", 3)) == [["a  b", " b c"]]
    assert _one_col(spark, ["a  b c"], word_ngrams(normalize_text("s"), 3)) == [["a b c"]]


def test_combined_ngrams_match_str_split(spark):
    """Linkage's n-grams tokenize like the reference's ``str.split()``
    (utils.py:23-30) and keep the first occurrence of each n-gram."""
    texts = ["a  b   c d", "  a b c d  ", "a b", "", None, "x y z x y z"]
    got = _one_col(spark, texts, _combined_ngrams(F.col("s"), 3))
    assert got == [list(dict.fromkeys(word_ngrams_py(t or "", 3))) for t in texts]


def test_char_ngrams(spark):
    texts = ["abc", "ab", "", "hello world", None]
    got = _one_col(spark, texts, char_ngrams("s", 3))
    assert [set(g) for g in got] == [char_ngrams_py(t, 3) for t in texts]


def test_doc_fingerprint_is_min_window_md5(spark):
    """Minimum md5 over the 8-character windows of the normalized text;
    text shorter than a window is its own window; text that normalizes
    to nothing has no fingerprint."""

    def fingerprint_py(text):
        t = normalize_py(text)
        if not t:
            return None
        windows = [t[i : i + 8] for i in range(max(len(t) - 7, 1))]
        return min(hashlib.md5(w.encode()).hexdigest() for w in windows)

    texts = [*CASES, "Short", "!!!", None]
    got = _one_col(spark, texts, doc_fingerprint("s", 8))
    assert got == [fingerprint_py(t) for t in texts]


def test_token_count(spark):
    texts = ["a b  c", "", "   ", "one"]
    got = _one_col(spark, texts, token_count("s"))
    assert got == [3, 0, 0, 1]


@pytest.fixture(scope="module")
def pair_df(spark):
    return spark.createDataFrame(PAIRS, ["s1", "s2"]).cache()


def test_levenshtein_sim(spark, pair_df):
    got = [r.v for r in pair_df.select(levenshtein_sim("s1", "s2").alias("v")).collect()]
    exp = [levenshtein_sim_py(a, b) for a, b in PAIRS]
    assert got == pytest.approx(exp)


def test_jaccard_sim(spark, pair_df):
    got = [r.v for r in pair_df.select(jaccard_sim("s1", "s2").alias("v")).collect()]
    exp = [jaccard_sim_py(a, b) for a, b in PAIRS]
    assert got == pytest.approx(exp)


def test_trigram_sim(spark, pair_df):
    got = [r.v for r in pair_df.select(trigram_sim("s1", "s2").alias("v")).collect()]
    exp = [trigram_sim_py(a, b) for a, b in PAIRS]
    assert got == pytest.approx(exp)


def test_jaro_winkler_matches_duckdb():
    """Oracle-parity contract: our JW kernel == DuckDB's
    jaro_winkler_similarity (so query/oracle hashes agree)."""
    con = duckdb.connect()
    cases = PAIRS + [
        ("martha", "marhta"),
        ("dixon", "dicksonx"),
        ("jellyfish", "smellyfish"),
        ("duane", "dwayne"),
        ("ab", "ba"),
        ("x", "y"),
    ]
    for a, b in cases:
        exp = con.execute("select jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]
        assert jaro_winkler_py(a, b) == pytest.approx(exp, abs=1e-12), (a, b)


def test_jaro_winkler_udf(spark, pair_df):
    from entity_resolution_pipeline_spark.functions.similarity import jaro_winkler_sim

    got = [r.v for r in pair_df.select(jaro_winkler_sim("s1", "s2").alias("v")).collect()]
    exp = [jaro_winkler_py(a, b) for a, b in PAIRS]
    assert got == pytest.approx(exp)


def _jw_random_cases():
    """Randomized pairs incl. empties, repeats, multi-64-char and
    non-ASCII strings."""
    import random

    rng = random.Random(1234)
    alph = "abc d€1"
    cases = [
        (
            "".join(rng.choice(alph) for _ in range(rng.randint(0, 140))),
            "".join(rng.choice(alph) for _ in range(rng.randint(0, 140))),
        )
        for _ in range(3000)
    ]
    return cases + [("", ""), ("a", ""), ("", "a"), ("abab", "baba"), ("x" * 80, "x" * 80)]


def test_jaro_winkler_kernels_agree_property():
    """The compiled C kernel equals the scalar oracle over randomized
    strings."""
    from entity_resolution_pipeline_spark.functions import _jw_native

    if not _jw_native.available():
        pytest.skip("no C compiler: the native Jaro-Winkler kernel cannot be built")
    cases = _jw_random_cases()
    got = _jw_native.jw_batch([c[0] for c in cases], [c[1] for c in cases])
    exp = [jaro_winkler_py(x, y) for x, y in cases]
    assert all(abs(e - g) < 1e-12 for e, g in zip(exp, got))


def test_jaro_winkler_batch_without_native_kernel(monkeypatch):
    """With no native kernel the UDF's batch function falls back to the
    scalar oracle, NULL scored as ""."""
    import pandas as pd

    from entity_resolution_pipeline_spark.functions import _jw_native
    from entity_resolution_pipeline_spark.functions.similarity import (
        jaro_winkler_batch,
    )

    monkeypatch.setattr(_jw_native, "jw_batch", lambda a, b: None)
    cases = _jw_random_cases()[:500] + [(None, "abc"), ("abc", None)]
    s1 = pd.Series([c[0] for c in cases], index=range(10, 10 + len(cases)))
    s2 = pd.Series([c[1] for c in cases], index=s1.index)
    got = jaro_winkler_batch(s1, s2)
    assert got.index.equals(s1.index)
    assert got.tolist() == [jaro_winkler_py(x or "", y or "") for x, y in cases]
