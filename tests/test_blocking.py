"""Blocking: exploded index, block-size cap, candidate pairs vs the
dict-based reference oracle; salted and unsalted plans produce the
identical pair set."""

from __future__ import annotations

from pyspark.sql import functions as F

from entity_resolution_pipeline_spark.config import STOPWORDS, BlockingConfig
from entity_resolution_pipeline_spark.operators.blocking import (
    blocking_keys,
    candidate_pairs,
    filter_blocks,
)

from .helpers import candidate_pairs_py, normalize_py, token_blocks_py


def _docs(spark):
    rows = [
        ("u1", "entity resolution at web scale"),
        ("u2", "entity resolution at web scale"),
        ("u3", "approximate string matching survey"),
        ("u4", "approximate string matching methods"),
        ("u5", "completely different page content"),
        ("u6", "the of and or but"),  # all stopwords → no keys
        ("u7", "singletonword here"),
    ]
    return spark.createDataFrame(rows, ["url", "text"]), dict(rows)


def test_blocking_keys_vs_oracle(spark):
    df, rows = _docs(spark)
    keys = blocking_keys(df, BlockingConfig(scheme="token", hash_keys=False))
    got = {(r.id, r.key) for r in keys.collect()}
    exp = set()
    for rid, text in rows.items():
        for tok in set(normalize_py(text).split()) - set(STOPWORDS):
            exp.add((rid, tok))
    assert got == exp


def test_block_cap(spark):
    df, rows = _docs(spark)
    cfg = BlockingConfig(scheme="token", min_block_size=2, max_block_size=3, hash_keys=False)
    keys = filter_blocks(blocking_keys(df, cfg), cfg)
    counts = {r.key: r.block_count for r in keys.select("key", "block_count").distinct().collect()}
    assert counts, "no blocks survived"
    assert all(2 <= c < 3 for c in counts.values())


def test_candidate_pairs_vs_oracle(spark):
    df, rows = _docs(spark)
    cfg = BlockingConfig(scheme="token")
    got = {(r.id1, r.id2) for r in candidate_pairs(df, cfg).collect()}
    blocks = token_blocks_py(
        {k: normalize_py(v) for k, v in rows.items()},
        set(STOPWORDS),
        cfg.min_block_size,
        cfg.max_block_size,
    )
    assert got == candidate_pairs_py(blocks)


def test_salted_equals_unsalted(spark, tiny_extracted):
    """Salted hot-block self-join must not change the pair set."""
    salted = candidate_pairs(
        tiny_extracted, BlockingConfig(scheme="token", salt_buckets=8), text_col="combined"
    )
    plain = candidate_pairs(
        tiny_extracted, BlockingConfig(scheme="token", salt_buckets=1), text_col="combined"
    )
    assert salted.exceptAll(plain).isEmpty()
    assert plain.exceptAll(salted).isEmpty()


def test_ngram_scheme(spark):
    df, _ = _docs(spark)
    cfg = BlockingConfig(scheme="ngram_word", ngram_n=3)
    pairs = {(r.id1, r.id2) for r in candidate_pairs(df, cfg).collect()}
    # u1/u2 share every 3-gram; u3/u4 share "approximate string matching"
    assert ("u1", "u2") in pairs
    assert ("u3", "u4") in pairs
    assert all(p[0] < p[1] for p in pairs)


def test_sorted_neighborhood_scheme(spark):
    df, _ = _docs(spark)
    cfg = BlockingConfig(scheme="sorted_neighborhood")
    pairs = {(r.id1, r.id2) for r in candidate_pairs(df, cfg).collect()}
    # identical token signatures land in one neighborhood
    assert ("u1", "u2") in pairs
