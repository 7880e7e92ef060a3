"""Training-data deduplication operators over a documents table.

The reference dedups only exactly (``drop_duplicates`` at
extract_to_csv.py:58-61); a web-scale training-data pipeline needs the
near-dup family too.  All operators here are Spark-first compositions of
built-in exprs — explode/groupBy/join — with **portable hashing**
(``md5`` hex strings, identical in Spark and ANSI SQL/DuckDB) so every
operator has an exact SQL oracle.

Scale notes (the part that matters at 10^12 docs):

* MinHash signatures are one shuffle: explode shingles → groupBy(doc) with
  K min() aggregates (map-side partial, no arrays of postings).
* LSH banding turns all-pairs into an equi-join on (band_idx, band_key)
  (:func:`_lsh_banded`, shared with the streaming index).
* Every Jaccard operator verifies its candidates through one join back
  to the shingle sets (:func:`_verify_pairs`); the capped n-gram
  candidates come from ``operators.blocking`` (reference precedent
  pipeline/utils.py:97-101).
* SimHash bit-bands (pigeonhole: hamming ≤ k → ≥1 of k+1 bands equal)
  replace the quadratic cross-join with an equi-join.
* Everything is whole-stage-codegen'd builtins; zero Python in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import BlockingConfig
from ..functions.normalize import normalize_text
from ..functions.text import distinct_tokens, word_ngrams
from .blocking import candidate_pairs

# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each exact-content group.

    Distributed restatement of the reference's ``drop_duplicates``
    (extract_to_csv.py:60): groupBy(content hash) → min(id) → semi-join.
    """
    keep = (
        df.select(
            F.md5(normalize_text(F.col(text_col))).alias("content_hash"),
            F.col(id_col),
        )
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of normalized text."""
    return F.array_distinct(word_ngrams(normalize_text(F.col(col) if isinstance(col, str) else col), n))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    shingle_n: int = 3,
) -> DataFrame:
    """→ (id, sig_0..sig_{K-1}): K-permutation min-wise signature.

    Permutation *i* is the seeded hash ``md5(i || ':' || shingle)``;
    the signature element is the lexicographic min over the doc's
    shingle set — a valid min-wise scheme over the md5 value space and
    byte-portable to any SQL engine (the oracle).  One explode + one
    groupBy with K partial-min aggregates: a single shuffle whose rows
    are (id, shingle), never per-key posting lists.  Docs without a
    shingle have no row.

    ``streaming.neardup.banded_minhash_index`` computes the same values
    per row (``array_min ∘ transform``), the only form legal on a
    streaming DataFrame; on batch input this route measured cheaper
    (sf0.1: 4.3 vs 5.0 CPU-s for the signatures, 4.7 vs 10.7 s wall for
    the full near-dup job; docs/PLANS.md, "One path per near-duplicate
    operator").
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(text_col, shingle_n)).alias("shingle"),
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def _lsh_banded(
    sigs: DataFrame, keep: list[str], bands: int, rows_per_band: int
) -> DataFrame:
    """→ (keep…, band_idx, band_key): one row per (doc, LSH band), where
    band_key = md5 of the band's ``rows_per_band`` signature values
    joined with '|'.  A doc with a NULL signature (no shingle) has no
    rows: it would otherwise get band key ``md5('')`` in every band and
    collide with every other such doc.  The test sits inside the
    explode, not in a filter, because a filter on ``sig_0`` would be
    pushed below the projection that computes it and re-run it."""
    band_structs = []
    for b in range(bands):
        cols = [F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_structs.append(
            F.struct(F.lit(b).alias("band_idx"), F.md5(F.concat_ws("|", *cols)).alias("band_key"))
        )
    band_rows = F.when(F.col("sig_0").isNotNull(), F.array(*band_structs))
    return sigs.select(*keep, F.explode(band_rows).alias("band")).select(
        *keep,
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_key").alias("band_key"),
    )


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 4, rows_per_band: int = 3
) -> DataFrame:
    """Band the signature and equi-join per band → (id1, id2), id1 < id2.

    Docs agreeing on all ``rows_per_band`` sig values of at least one
    band collide.  The join key is (band_idx, band_key) — pure shuffle
    equi-join, AQE-skew-splittable; no cross join anywhere.
    """
    banded = _lsh_banded(sigs, ["id"], bands, rows_per_band)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band_idx", "band_key"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .dropDuplicates(["id1", "id2"])
    )


def shingle_jaccard(c1: Column, c2: Column) -> Column:
    """Jaccard over two shingle-array columns; 0 on empty union."""
    union = F.size(F.array_union(c1, c2))
    inter = F.size(F.array_intersect(c1, c2))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _verify_pairs(
    cands: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    threshold: float,
) -> DataFrame:
    """Candidate ``(id1, id2)`` → ``(id1, id2, jaccard)`` with exact
    shingle Jaccard ≥ θ: both ids join back to their shingle sets in
    ``df``, so blocking/LSH false positives never ship."""
    sh = df.select(F.col(id_col).alias("id"), shingles(text_col, shingle_n).alias("sh"))
    return (
        cands.join(sh.select(F.col("id").alias("id1"), F.col("sh").alias("sh1")), "id1")
        .join(sh.select(F.col("id").alias("id2"), F.col("sh").alias("sh2")), "id2")
        .select(
            "id1",
            "id2",
            F.round(shingle_jaccard(F.col("sh1"), F.col("sh2")), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash→LSH→verify pipeline: → (id1, id2, jaccard) above θ.

    Candidates from banding are *verified* with exact shingle Jaccard,
    so LSH false positives never ship.
    """
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    cands = lsh_candidate_pairs(sigs, bands, num_hashes // bands)
    return _verify_pairs(cands, df, id_col, text_col, shingle_n, threshold)


def prefix_filter_jaccard_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Prefix-filtered exact Jaccard self-join: → (id1, id2, jaccard ≥ θ)
    with **guaranteed full recall** (unlike the block-cap variant, which
    trades recall for cost).

    Classic set-similarity-join prefix filter (PPJoin/TokenJoin family):
    order all shingles globally by (document frequency asc, shingle);
    any two sets with J ≥ θ must share at least one shingle among each
    set's first ``⌊(1−θ)·|s|⌋+1`` under that order.  Joining only on
    prefix shingles — the *rarest* ones — keeps blocks tiny by
    construction (a frequency-ascending prefix is anti-skew), then exact
    Jaccard verifies.  All window/join/aggregate builtins.
    """
    from pyspark.sql import Window

    posting = df.select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col, shingle_n)).alias("key")
    )
    freq = posting.groupBy("key").agg(F.count("*").alias("freq"))
    w_rank = Window.partitionBy("id").orderBy("freq", "key")
    ranked = (
        posting.join(freq, "key")
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("sz", F.count("*").over(Window.partitionBy("id")))
    )
    prefix = ranked.where(
        F.col("rn") <= F.floor((1.0 - threshold) * F.col("sz")) + 1
    )
    cands = (
        prefix.select("key", F.col("id").alias("id1"))
        .join(prefix.select("key", F.col("id").alias("id2")), "key")
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )
    return _verify_pairs(cands, df, id_col, text_col, shingle_n, threshold)


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------

_HIGH_HEX = ("8", "9", "a", "b", "c", "d", "e", "f")


def simhash_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """→ (id, sh): 16-bit SimHash of the distinct-token set of
    normalized text.

    Bit *j* is the sign of the (+1/−1) vote over tokens, where token
    *t* votes +1 iff the high bit of hex digit *j* of md5(t) is set —
    i.e. ``substr(md5(t), j+1, 1) ∈ [8-f]``; the DuckDB oracle writes
    the same vote in SQL.  Tokens are exploded and hashed ONCE, then 16
    conditional-sum aggregates run in one map-side-partial groupBy
    (a per-row ``aggregate()`` fold hashing every token 16× measured
    ~4× the CPU, docs/PLANS.md).  ``explode_outer`` keeps docs without
    tokens, with ``sh = 0``.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(
            distinct_tokens(normalize_text(F.col(text_col)))
        ).alias("t"),
    ).withColumn("h", F.md5("t"))
    aggs = []
    for j in range(16):
        vote = (
            F.when(F.substring("h", j + 1, 1).isin(*_HIGH_HEX), 1)
            .otherwise(-1)
            # null token (empty doc) votes -1: bit stays 0
        )
        aggs.append(F.sum(vote).alias(f"b{j}"))
    g = toks.groupBy("id").agg(*aggs)
    total = None
    for j in range(16):
        bit = (F.col(f"b{j}") > 0).cast("int") * F.lit(2**j)
        total = bit if total is None else total + bit
    return g.select("id", total.alias("sh"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """→ (id1, id2, hamming) with hamming(:func:`simhash_table`) ≤
    ``max_hamming``.

    Banding via pigeonhole: split the 16 bits into ``max_hamming + 1``
    bands; any pair within the hamming radius agrees exactly on ≥1 band,
    so candidates come from an equi-join on (band_idx, band_bits) — the
    cross join never happens.  Verification is ``bit_count(xor)``.
    """
    nbands = max_hamming + 1
    width = 16 // nbands  # 4 bands × 4 bits
    h = simhash_table(df, id_col, text_col)
    bandcols = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.shiftright(F.col("sh"), b * width).bitwiseAND(F.lit(2**width - 1)).alias("band_bits"),
        )
        for b in range(nbands)
    ]
    banded = h.select(
        "id", "sh", F.explode(F.array(*bandcols)).alias("band")
    ).select("id", "sh", F.col("band.band_idx").alias("band_idx"), F.col("band.band_bits").alias("band_bits"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band_idx", "band_bits"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id1", "id2"])
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup (blocked, no LSH)
# ---------------------------------------------------------------------------


def ngram_jaccard_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_block_size: int = 200,
) -> DataFrame:
    """Shingle-blocked exact Jaccard near-dup: → (id1, id2, jaccard) ≥ θ.

    Pairs sharing ≥1 shingle block of size ``1 < n ≤ max_block_size``
    (``operators.blocking``'s ``ngram_word`` scheme over normalized
    text, hot blocks salted) are scored with exact shingle Jaccard.
    Because θ-Jaccard pairs share ≥1 shingle by definition, blocking
    loses only pairs whose every common shingle is over the cap — the
    same recall/cost trade the reference's block cap makes
    (utils.py:97-101).
    """
    norm = df.select(
        F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("text")
    )
    # blocking keeps 2 ≤ |block| < cap; this operator's cap is inclusive
    cfg = BlockingConfig(
        scheme="ngram_word",
        ngram_n=shingle_n,
        min_block_size=2,
        max_block_size=max_block_size + 1,
    )
    pairs = candidate_pairs(norm, cfg, id_col="id", text_col="text")
    return _verify_pairs(pairs, df, id_col, text_col, shingle_n, threshold)
