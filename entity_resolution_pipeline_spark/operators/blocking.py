"""Stage 2 — blocking (candidate-pair generation).

The reference builds driver-side dict indexes ``{key: [row_idx]}``
(pipeline/blocking.py:25-33, utils.py:86-102) and intersects key sets in
Python (utils.py:54-63).  Spark-native restatement:

* the inverted index IS an exploded DataFrame ``(id, key)`` — blocks are
  groups, never materialized as arrays (the reference's own Spark path
  collects them with ``collect_list`` at distributed_er_pipeline.py:89,
  which is the skew bomb we refuse to reproduce);
* pair generation IS a self-equi-join on ``key`` with canonical
  ordering ``id1 < id2`` + ``dropDuplicates`` (the reference's Spark
  twin: distributed_er_pipeline.py:95-101);
* the block-size cap ``min < |block| < max`` (utils.py:97-101, the
  reference's explicit pair-explosion bound) becomes a count-filter
  semi-join, applied BEFORE the pair join so oversized blocks never
  produce a single shuffle row;
* hot blocks (near the cap) are salted: the left side gets a
  deterministic salt bucket, the right side is replicated across
  buckets, the join key becomes ``(key, salt)`` — identical pair set,
  bounded per-task fan-out at 10^12-document scale.  Cold blocks skip
  the replication.  AQE skew-join mops up the residue.

Blocking schemes (SURVEY §2.3):
  token               — distinct non-stopword tokens (B3)
  ngram_word          — word n-gram keys, n=3 default (B1/B2)
  sorted_neighborhood — sorted-token-signature prefix key (generalizes
                        the reference's coarse by-year key, B4)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import BlockingConfig
from ..functions.text import tokens_without_stopwords, word_ngrams

#: blocks with count ≥ this are salted in the pair join
HOT_BLOCK_THRESHOLD = 64


def blocking_keys(
    df: DataFrame,
    cfg: BlockingConfig | None = None,
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """→ exploded inverted index ``(id, key)``, one row per posting."""
    cfg = cfg or BlockingConfig()
    if cfg.scheme == "token":
        keys = F.explode(tokens_without_stopwords(text_col)).alias("key")
        return _maybe_hash(df.select(F.col(id_col).alias("id"), keys), cfg)
    if cfg.scheme == "ngram_word":
        # distinct per doc: block postings are a *set* of ids per key
        # (the reference dedups pairs after the fact, utils.py:54-63;
        # deduping postings first keeps the count-cap semantics equal to
        # the token scheme and the posting join smaller)
        keys = F.explode(F.array_distinct(word_ngrams(text_col, cfg.ngram_n))).alias("key")
        return _maybe_hash(df.select(F.col(id_col).alias("id"), keys), cfg)
    if cfg.scheme == "sorted_neighborhood":
        # Sorted-token-signature prefix: sort the record's distinct
        # non-stopword tokens, key on the first two — records agreeing on
        # their lexicographically-smallest content tokens land in the
        # same neighborhood (coarse key in the spirit of the reference's
        # by-year blocking, pipeline/blocking.py:46-60).
        sig = F.array_join(
            F.slice(F.array_sort(tokens_without_stopwords(text_col)), 1, 2), " "
        )
        return _maybe_hash(
            df.select(F.col(id_col).alias("id"), sig.alias("key")).where(
                F.length("key") > 0
            ),
            cfg,
        )
    raise ValueError(f"unknown blocking scheme: {cfg.scheme}")


def _maybe_hash(keys: DataFrame, cfg: BlockingConfig) -> DataFrame:
    """Swap the string key for xxhash64(key) (``cfg.hash_keys``): the
    posting shuffle carries 8-byte keys instead of n-gram text.

    Collision semantics (exact): hashing happens *before* the count-cap
    filter, so a 64-bit collision that merges two keys can (a) add
    spurious candidate pairs (scoring rejects them), (b) push the merged
    count past ``max_block_size`` and drop the merged block's pairs, or
    (c) lift two sub-``min_block_size`` keys over the floor.  With k
    distinct keys the probability of any collision is ≈ k²/2⁶⁵ —
    negligible, but not "can only add pairs"."""
    if not cfg.hash_keys:
        return keys
    return keys.withColumn("key", F.xxhash64("key"))


def filter_blocks(keys: DataFrame, cfg: BlockingConfig | None = None) -> DataFrame:
    """Apply the reference's block-size cap (utils.py:97-101):
    keep keys with ``min_block_size <= count < max_block_size``.

    Returns ``(id, key, block_count)``.  The count aggregate is
    map-side-partial (Catalyst HashAggregate), so a hot key costs one
    long-tail reduce row, not a giant array.
    """
    cfg = cfg or BlockingConfig()
    counts = (
        keys.groupBy("key")
        .agg(F.count("*").alias("block_count"))
        .where(
            (F.col("block_count") >= cfg.min_block_size)
            & (F.col("block_count") < cfg.max_block_size)
        )
    )
    # counts is bounded by distinct-valid-keys; typically small enough
    # for AQE to convert this to a broadcast join at runtime.
    return keys.join(counts, "key")


def capped_postings(
    df: DataFrame,
    cfg: BlockingConfig | None = None,
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """→ the capped posting list ``(id, key, block_count)``.

    Checkpoint-friendly half of :func:`candidate_pairs`: the pair
    self-join evaluates its input once per side, so materializing this
    DataFrame first (pipeline `postings` stage / ``localCheckpoint``)
    halves-to-quarters the explode+normalize work versus inlining."""
    cfg = cfg or BlockingConfig()
    return filter_blocks(blocking_keys(df, cfg, id_col, text_col), cfg)


def pairs_from_postings(
    keys: DataFrame, cfg: BlockingConfig | None = None
) -> DataFrame:
    """capped postings → canonical candidate pairs ``(id1, id2)``,
    ``id1 < id2``, deduped."""
    cfg = cfg or BlockingConfig()
    s = cfg.salt_buckets
    if s > 1:
        # Unified salted self-join: cold blocks live at salt 0 only; hot
        # blocks (count ≥ threshold) pin the left row to one bucket and
        # replicate the right row across all buckets, so every (id1,id2)
        # pair meets in exactly one (key,salt) partition with task
        # fan-out divided by s.  One branch for both temperatures keeps
        # the posting subtree at two evaluations (a split cold/hot union
        # would scan it four times).
        is_hot = F.col("block_count") >= HOT_BLOCK_THRESHOLD
        left = keys.withColumn(
            "salt",
            F.when(is_hot, F.pmod(F.xxhash64("id"), F.lit(s))).otherwise(
                F.lit(0).cast("bigint")
            ),
        )
        right = keys.withColumn(
            "salt",
            F.explode(
                F.when(
                    is_hot,
                    F.sequence(F.lit(0).cast("bigint"), F.lit(s - 1).cast("bigint")),
                ).otherwise(F.array(F.lit(0).cast("bigint")))
            ),
        )
        on = ["key", "salt"]
    else:
        left = right = keys
        on = ["key"]

    a = left.select(*[F.col(c) for c in on], F.col("id").alias("id1"))
    b = right.select(*[F.col(c) for c in on], F.col("id").alias("id2"))
    return (
        a.join(b, on)
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )


def candidate_pairs(
    df: DataFrame,
    cfg: BlockingConfig | None = None,
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """→ canonical candidate pairs ``(id1, id2)`` with ``id1 < id2``.

    Plan shape: explode → count-cap semi-join → unified salted
    self-equi-join → dropDuplicates.  Matches the reference's pair
    semantics (utils.py:54-63 dedup'd cartesian-within-block) for a
    single-table self-match.  For checkpointed pipelines prefer
    :func:`capped_postings` + :func:`pairs_from_postings` so the posting
    subtree is materialized once instead of re-evaluated per join side.
    """
    cfg = cfg or BlockingConfig()
    return pairs_from_postings(capped_postings(df, cfg, id_col, text_col), cfg)


def block_stats(keys: DataFrame) -> DataFrame:
    """Skew metrics per blocking run (north-rule observability):
    block count, max/avg block size, candidate pairs implied pre/post cap."""
    by_key = keys.groupBy("key").agg(F.count("*").alias("n"))
    return by_key.agg(
        F.count("*").alias("num_blocks"),
        F.max("n").alias("max_block_size"),
        F.avg("n").alias("avg_block_size"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("implied_pairs"),
    )
