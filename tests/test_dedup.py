"""Dedup operators: exact, MinHash+LSH, SimHash, ngram-Jaccard — each
against a driver-side brute-force oracle on tiny data."""

from __future__ import annotations

import hashlib
import itertools

import pytest
from pyspark.sql import functions as F

from entity_resolution_pipeline_spark.operators.dedup import (
    dedup_exact,
    minhash_near_duplicates,
    minhash_signatures,
    ngram_jaccard_duplicates,
    simhash_near_duplicates,
    simhash_table,
)

from .helpers import normalize_py


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "The quick brown fox jumps over the lazy dog!"),  # exact after norm
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0/1
        (3, "completely different text about spark engines"),
        (4, "completely different text about spark engines and more"),
        (5, "zzz unrelated singleton document body"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"]), rows


def _shingles_py(text: str, n: int = 3) -> set[str]:
    toks = normalize_py(text).split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_exact_dedup(spark):
    df, rows = _docs(spark)
    kept = {r.doc_id for r in dedup_exact(df).collect()}
    assert kept == {0, 2, 3, 4, 5}  # 1 collapses into 0


def test_minhash_signature_oracle(spark):
    """Signature = lexicographic min of md5('{i}:'+shingle) — exact."""
    df, rows = _docs(spark)
    sigs = {r.id: r for r in minhash_signatures(df, num_hashes=4).collect()}
    for doc_id, text in rows:
        sh = _shingles_py(text)
        if not sh:
            assert doc_id not in sigs
            continue
        for i in range(4):
            exp = min(hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in sh)
            assert sigs[doc_id][f"sig_{i}"] == exp, (doc_id, i)


def test_minhash_near_dups_find_planted(spark):
    df, rows = _docs(spark)
    dups = {(r.id1, r.id2): r.jaccard for r in minhash_near_duplicates(
        df, threshold=0.2, num_hashes=12, bands=6
    ).collect()}
    # identical docs always collide and score 1.0
    assert dups.get((0, 1)) == pytest.approx(1.0)
    # verified jaccard matches the brute-force value for every reported pair
    texts = dict(rows)
    for (i, j), jac in dups.items():
        s1, s2 = _shingles_py(texts[i]), _shingles_py(texts[j])
        assert jac == pytest.approx(len(s1 & s2) / len(s1 | s2), abs=1e-6)


def _simhash_py(text: str) -> int:
    votes = [0] * 16
    for t in set(normalize_py(text).split()):
        h = hashlib.md5(t.encode()).hexdigest()
        for j in range(16):
            votes[j] += 1 if h[j] in "89abcdef" else -1
    return sum(1 << j for j in range(16) if votes[j] > 0)


def test_simhash_identical_and_bounds(spark):
    df, rows = _docs(spark)
    # docs without tokens keep a row, hashed to 0
    extra = [(6, ""), (7, "?! ...")]
    df = df.unionByName(spark.createDataFrame(extra, df.schema))
    out = {r.id: r.sh for r in simhash_table(df).collect()}
    assert out[0] == out[1]  # same normalized token set
    assert all(0 <= v < 2**16 for v in out.values())
    assert out == {i: _simhash_py(t) for i, t in rows + extra}
    assert out[6] == out[7] == 0


def test_simhash_near_dups_vs_bruteforce(spark):
    """Banded candidate join must recover EXACTLY the brute-force
    hamming≤k pair set (pigeonhole guarantees no false negatives)."""
    df, rows = _docs(spark)
    hashes = {r.id: r.sh for r in simhash_table(df).collect()}
    for k in (1, 3):
        got = {(r.id1, r.id2) for r in simhash_near_duplicates(df, max_hamming=k).collect()}
        exp = {
            (i, j)
            for i, j in itertools.combinations(sorted(hashes), 2)
            if bin(hashes[i] ^ hashes[j]).count("1") <= k
        }
        assert got == exp, k


def test_prefix_filter_full_recall(spark):
    """Prefix filtering is LOSSLESS: it must return exactly the
    brute-force pair set at every threshold (the cap variant may not)."""
    from entity_resolution_pipeline_spark.operators.dedup import (
        prefix_filter_jaccard_duplicates,
    )

    df, rows = _docs(spark)
    for theta in (0.2, 0.5, 0.8):
        got = {
            (r.id1, r.id2): r.jaccard
            for r in prefix_filter_jaccard_duplicates(df, threshold=theta).collect()
        }
        exp = {}
        for (i, t1), (j, t2) in itertools.combinations(rows, 2):
            s1, s2 = _shingles_py(t1), _shingles_py(t2)
            if s1 | s2:
                jac = round(len(s1 & s2) / len(s1 | s2), 6)
                if jac >= theta:
                    exp[(i, j)] = jac
        assert got == exp, theta


def test_ngram_jaccard_vs_bruteforce(spark):
    df, rows = _docs(spark)
    texts = dict(rows)
    theta = 0.3
    got = {(r.id1, r.id2): r.jaccard for r in ngram_jaccard_duplicates(
        df, threshold=theta, max_block_size=1000
    ).collect()}
    exp = {}
    for (i, t1), (j, t2) in itertools.combinations(rows, 2):
        s1, s2 = _shingles_py(t1), _shingles_py(t2)
        if s1 | s2:
            jac = len(s1 & s2) / len(s1 | s2)
            if round(jac, 6) >= theta:
                exp[(i, j)] = jac
    assert set(got) == set(exp)
    for k, v in got.items():
        assert v == pytest.approx(exp[k], abs=1e-6)


def test_edit_distance_join_vs_bruteforce(spark):
    """Banded length-bucket range join must equal the brute-force
    lev ≤ k pair set (length filter is lossless for edit distance)."""
    from entity_resolution_pipeline_spark.operators.matching import (
        edit_distance_join,
    )

    df, rows = _docs(spark)
    for k in (2, 5):
        got = {
            (r.id1, r.id2): r.lev
            for r in edit_distance_join(df, k=k, prefix_len=60).collect()
        }
        import itertools as it

        from .helpers import levenshtein_py, normalize_py

        exp = {}
        for (i, t1), (j, t2) in it.combinations(rows, 2):
            lev = levenshtein_py(normalize_py(t1)[:60], normalize_py(t2)[:60])
            if lev <= k:
                exp[(i, j)] = lev
        assert got == exp, k
