"""Stage 3 — pairwise matching (similarity scoring).

Reference lifecycle (pipeline/matching.py:33-67): positional double-join
pairs→records, ``np.vectorize`` similarity per attribute, year-equality
feature, weighted linear score, threshold filter.

Spark restatement: each record's features are projected once (token or
n-gram sets for the set-based methods, the normalized string for the
string kernels), then two hash equi-joins pairs→projection (the
reference's own Spark path, distributed_er_pipeline.py:105-106).
Similarity is pure Catalyst expressions (Levenshtein/Jaccard/Dice —
whole-stage codegen) or an Arrow-batched pandas UDF (Jaro-Winkler).
The weighted sum and the θ-filter are column arithmetic (M8/M9).  Zero
per-row Python.

:func:`matched_pairs` filters before it verifies: the set-based features
and ``meta_eq`` are computed on every candidate pair, an upper bound of
the score rejects the pairs that cannot pass θ, and the string kernels
run on the survivors only.
"""

from __future__ import annotations

from collections.abc import Collection

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import MatchingConfig
from ..functions.similarity import SIM_METHODS, SimMethod

#: the score's features, in the order of ``MatchingConfig.weights``
FEATURES = ("title_sim", "authors_sim", "meta_eq")


def join_pair_records(
    pairs: DataFrame, records: DataFrame, id_col: str, attrs: tuple[str, ...]
) -> DataFrame:
    """pairs(id1,id2) ⋈ records ⋈ records → wide pair rows
    ``(id1, id2, <attr>_1, <attr>_2, ...)`` (M2)."""
    r1 = records.select(
        F.col(id_col).alias("id1"), *[F.col(a).alias(f"{a}_1") for a in attrs]
    )
    r2 = records.select(
        F.col(id_col).alias("id2"), *[F.col(a).alias(f"{a}_2") for a in attrs]
    )
    return pairs.join(r1, "id1").join(r2, "id2")


def _methods(cfg: MatchingConfig) -> dict[str, SimMethod]:
    return {"title": SIM_METHODS[cfg.method], "authors": SIM_METHODS[cfg.authors_method]}


def _pair_features(
    pairs: DataFrame, records: DataFrame, cfg: MatchingConfig, id_col: str
) -> DataFrame:
    """Pairs joined to a per-record projection of each attribute's
    feature → ``(id1, id2, title_1, title_2, authors_1, authors_2,
    lang_1, lang_2)``.  A record's token or n-gram set is built once,
    not once per candidate pair it appears in."""
    feats = records.select(
        id_col,
        *[m.feature(F.col(f"{a}_norm")).alias(a) for a, m in _methods(cfg).items()],
        "lang",
    )
    return join_pair_records(pairs, feats, id_col, attrs=("title", "authors", "lang"))


def _feature_sims(cfg: MatchingConfig, set_based: bool) -> dict[str, Column]:
    """The score features of one kind over wide pair rows: the set-based
    similarities plus ``meta_eq`` (language equality of the two pages,
    the reference's year-equality feature, matching.py:63), or the
    string kernels."""
    sims = {
        f"{a}_sim": m.sim(F.col(f"{a}_1"), F.col(f"{a}_2"))
        for a, m in _methods(cfg).items()
        if m.set_based == set_based
    }
    if set_based:
        sims["meta_eq"] = (F.col("lang_1") == F.col("lang_2")).cast("int")
    return sims


def _score(cfg: MatchingConfig, computed: Collection[str]) -> Column:
    """w0·title_sim + w1·authors_sim + w2·meta_eq (pipeline/matching.py:65)
    over the feature columns named in ``computed``.

    A feature not yet computed is replaced by the end of [0, 1] that
    maximises its term: 1.0 under a weight ≥ 0, 0.0 under a negative
    one.  Every feature lies in [0, 1] and IEEE multiplication and
    addition are monotone, so the result is ≥ the computed similarity —
    an exact upper bound, no epsilon needed.
    """
    t, a, m = (
        F.col(name) if name in computed else F.lit(1.0 if w >= 0 else 0.0)
        for name, w in zip(FEATURES, cfg.weights)
    )
    w0, w1, w2 = cfg.weights
    return F.lit(w0) * t + F.lit(w1) * a + F.lit(w2) * m


def score_pairs(
    pairs: DataFrame,
    records: DataFrame,
    cfg: MatchingConfig | None = None,
    id_col: str = "url",
) -> DataFrame:
    """→ ``(id1, id2, title_sim, authors_sim, meta_eq, similarity)`` for
    every candidate pair — the threshold sweep and inspection view; the
    pipeline runs :func:`matched_pairs`."""
    cfg = cfg or MatchingConfig()
    sims = {**_feature_sims(cfg, set_based=True), **_feature_sims(cfg, set_based=False)}
    scored = _pair_features(pairs, records, cfg, id_col).select(
        "id1", "id2", *[sims[name].alias(name) for name in FEATURES]
    )
    return scored.withColumn("similarity", _score(cfg, FEATURES))


def edit_distance_join(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_len: int = 40,
) -> DataFrame:
    """Edit-distance-bounded self-join: → (id1, id2, lev ≤ k) over the
    first ``prefix_len`` chars of normalized text.

    A *range* join (|len1 − len2| ≤ k) that Spark lacks natively,
    expressed as the classic bucketize-and-equi-join: the left side
    explodes its admissible partner lengths ``len−k … len+k`` and joins
    on an exact length — each qualifying pair meets exactly once, so no
    dedup pass is needed.  The length filter is the standard lossless
    prerequisite of edit distance (|len1−len2| ≤ lev), then the builtin
    ``levenshtein`` (with its max-distance short-circuit) verifies.
    """
    from ..functions.normalize import normalize_text

    s = df.select(
        F.col(id_col).alias("id"),
        F.substring(normalize_text(F.col(text_col)), 1, prefix_len).alias("t"),
    ).withColumn("len", F.length("t"))
    a = s.select(
        F.col("id").alias("id1"),
        F.col("t").alias("t1"),
        F.explode(
            F.sequence(
                F.greatest(F.col("len") - k, F.lit(0)), F.col("len") + k
            )
        ).alias("match_len"),
    )
    b = s.select(
        F.col("id").alias("id2"), F.col("t").alias("t2"), F.col("len").alias("match_len")
    )
    return (
        a.join(b, "match_len")
        .where(F.col("id1") < F.col("id2"))
        .select(
            "id1", "id2", F.levenshtein("t1", "t2").cast("long").alias("lev")
        )
        .where(F.col("lev") <= k)
    )


def matched_pairs(
    pairs: DataFrame,
    records: DataFrame,
    cfg: MatchingConfig | None = None,
    id_col: str = "url",
) -> DataFrame:
    """→ ``(id1, id2, similarity)`` of the candidate pairs scoring above
    θ (run_pipeline.py:30; distributed_er_pipeline.py:119) — row for row
    ``score_pairs(...).where(similarity > θ)``.

    The set-based features and ``meta_eq`` are computed on every pair;
    pairs whose score bound (:func:`_score` with the string features at
    their extremes) is ≤ θ are dropped before the string kernels run.
    With the default config a pair needs equal languages and author
    Jaccard > 0.42 to survive the bound.
    """
    cfg = cfg or MatchingConfig()
    cheap = _feature_sims(cfg, set_based=True)
    costly = _feature_sims(cfg, set_based=False)
    return (
        _pair_features(pairs, records, cfg, id_col)
        .withColumns(cheap)
        .where(_score(cfg, cheap) > cfg.threshold)
        .withColumns(costly)
        .withColumn("similarity", _score(cfg, FEATURES))
        .where(F.col("similarity") > cfg.threshold)
        .select("id1", "id2", "similarity")
    )
