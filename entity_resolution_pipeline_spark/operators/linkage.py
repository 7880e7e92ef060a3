"""Two-dataset record linkage (the reference's ACM × DBLP flow).

The repo's main pipeline is self-join ER over one pages table; the
reference's shipped golden run (run_pipeline.py:47-49) links TWO
publication sets: word-3-gram blocking on the ``Combined`` attribute
between the datasets (pipeline/blocking.py:25-31, utils.py:54-63),
Levenshtein scoring on title/authors + year equality with weights
[.33, .33, .33] and θ=0.8 (pipeline/matching.py:33-67), then bipartite
connected components and the keep-one-ACM dedup policy
(pipeline/clustering.py:40-67).

Spark-first restatement — no driver-side dicts, no iterrows:

* postings are exploded DataFrames per side, pair generation is a
  bipartite equi-join on the n-gram key (never ``itertools.product``
  over collected blocks);
* scoring is two hash joins + builtin ``levenshtein`` (whole-stage
  codegen; the reference needs ``np.vectorize`` over a C extension);
* clustering reuses the large-star/small-star operator on side-tagged
  64-bit node ids; the dedup policy is distributed min/anti-join.

The golden test (tests/test_reference_parity.py) reproduces the
committed ``output/Matched_Entities.csv`` pair set exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.normalize import normalize_text, squeeze_lower
from ..functions.similarity import levenshtein_sim
from ..functions.text import token_ngrams
from .clustering import connected_components

PUBLICATION_SCHEMA = StructType(
    [
        StructField("paperId", StringType()),
        StructField("title", StringType()),
        StructField("authors", StringType()),
        StructField("venue", StringType()),
        StructField("year", IntegerType()),
    ]
)


def load_publications(
    spark: SparkSession, path: str, with_index: bool = False
) -> DataFrame:
    """'|'-separated publication CSV → normalized DataFrame with the
    reference's preprocessing chain (data_loading.py:10-39): title and
    authors get lower → [^a-z0-9]→' ' → squeeze → trim; venue keeps
    punctuation (lower + squeeze + trim); ``combined`` = title ⊕ authors
    ⊕ year with single-space f-string semantics (empty fields leave the
    reference's double spaces — reproduced by plain concat).

    ``with_index`` adds the reference's 0-based file-order row index
    (``np.arange`` at data_loading.py:19) as ``idx`` — golden-parity
    plumbing only: it forces a single-partition read so the index is
    file order.  At scale, key on a stable id column instead (the
    datasets carry duplicate rows whose index is the only
    distinguisher, so index-keyed clustering treats them as distinct
    entities exactly like the reference does).
    """
    raw = (
        spark.read.option("sep", "|")
        .option("header", True)
        .schema(PUBLICATION_SCHEMA)
        .csv(path)
    )
    cols = []
    if with_index:
        raw = raw.coalesce(1).withColumn("idx", F.monotonically_increasing_id())
        cols.append("idx")
    title = normalize_text(F.coalesce(F.col("title"), F.lit("")))
    authors = normalize_text(F.coalesce(F.col("authors"), F.lit("")))
    venue = squeeze_lower(F.coalesce(F.col("venue"), F.lit("")))
    return raw.select(
        *cols,
        "paperId",
        title.alias("title"),
        authors.alias("authors"),
        venue.alias("venue"),
        "year",
        F.concat(
            title, F.lit(" "), authors, F.lit(" "), F.col("year").cast("string")
        ).alias("combined"),
    )


def _combined_ngrams(col, n: int):
    """Word n-grams of ``combined`` with the reference's ``str.split()``
    tokenization (utils.py:23-30): empty tokens from repeated spaces are
    dropped, so split on ' +' after trim."""
    return F.array_distinct(token_ngrams(F.split(F.trim(col), " +"), n))


def bipartite_candidate_pairs(
    left: DataFrame,
    right: DataFrame,
    n: int = 3,
    id_col: str = "paperId",
    text_col: str = "combined",
    hash_keys: bool = True,
    scope_col: str | None = None,
) -> DataFrame:
    """→ (id1, id2): pairs sharing ≥1 word n-gram of ``text_col``
    across the two datasets (utils.py:54-63), deduped.

    ``hash_keys`` shuffles 8-byte xxhash64 keys instead of n-gram text
    (collisions can only add candidates, which exact scoring then
    arbitrates).  Blocks are uncapped, as in the reference's ngram
    scheme (its cap exists only in token blocking, utils.py:97-101).
    ``scope_col`` optionally scopes blocks to a partition column (pairs
    only form within equal values — e.g. a shard/replica/tenant key).
    """
    def postings(df: DataFrame, role: str) -> DataFrame:
        scope = [F.col(scope_col)] if scope_col is not None else []
        out = df.select(
            F.col(id_col).alias(role),
            *scope,
            F.explode(_combined_ngrams(F.col(text_col), n)).alias("key"),
        )
        if scope_col is not None:
            out = out.select(
                role,
                F.concat(
                    F.col(scope_col).cast("string"), F.lit(":"), F.col("key")
                ).alias("key"),
            )
        if hash_keys:
            out = out.withColumn("key", F.xxhash64("key"))
        return out

    return (
        postings(left, "id1")
        .join(postings(right, "id2"), "key")
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )


def score_publication_pairs(
    pairs: DataFrame,
    left: DataFrame,
    right: DataFrame,
    weights: tuple[float, float, float] = (0.33, 0.33, 0.33),
    id_col: str = "paperId",
) -> DataFrame:
    """→ (id1, id2, similarity): w0·lev(title) + w1·lev(authors) +
    w2·[year1 = year2] (pipeline/matching.py:52-67 at sim='levenshtein';
    the similarity formula 1 − dist/max(len) is matching.py:95-96).
    Pure Catalyst — builtin ``levenshtein``, no Python."""
    l = left.select(
        F.col(id_col).alias("id1"),
        F.col("title").alias("title_1"),
        F.col("authors").alias("authors_1"),
        F.col("year").alias("year_1"),
    )
    r = right.select(
        F.col(id_col).alias("id2"),
        F.col("title").alias("title_2"),
        F.col("authors").alias("authors_2"),
        F.col("year").alias("year_2"),
    )
    w0, w1, w2 = weights
    return (
        pairs.join(l, "id1")
        .join(r, "id2")
        .select(
            "id1",
            "id2",
            (
                F.lit(w0) * levenshtein_sim(F.col("title_1"), F.col("title_2"))
                + F.lit(w1)
                * levenshtein_sim(F.col("authors_1"), F.col("authors_2"))
                + F.lit(w2)
                * (F.col("year_1") == F.col("year_2")).cast("int")
            ).alias("similarity"),
        )
    )


def link_publications(
    left: DataFrame,
    right: DataFrame,
    n: int = 3,
    weights: tuple[float, float, float] = (0.33, 0.33, 0.33),
    threshold: float = 0.8,
    hash_keys: bool = True,
    id_col: str = "paperId",
) -> DataFrame:
    """End-to-end linkage: → matched (id1, id2, similarity > θ) — the
    reference golden config is the default (run_pipeline.py:49)."""
    pairs = bipartite_candidate_pairs(
        left, right, n=n, hash_keys=hash_keys, id_col=id_col
    )
    scored = score_publication_pairs(
        pairs, left, right, weights=weights, id_col=id_col
    )
    return scored.where(F.col("similarity") > threshold)


def _node(side: str, id_col) -> F.Column:
    # side-tagged 64-bit node id: one edge row is 16 bytes in every
    # clustering shuffle regardless of paperId width
    return F.xxhash64(F.concat(F.lit(side + ":"), id_col.cast("string")))


def deduplicate_linked(
    left: DataFrame,
    right: DataFrame,
    matched: DataFrame,
    id_col: str = "paperId",
) -> tuple[DataFrame, DataFrame]:
    """Bipartite cluster dedup (pipeline/clustering.py:40-67): for every
    connected component with **more than two** nodes, keep exactly one
    left-side member (deterministic min(id) — the reference keeps an
    arbitrary set-iteration member, clustering.py:47-49), drop its other
    left members and ALL right members, and append the kept left row to
    the right-side output.  1-to-1 matches (2-node components) are left
    untouched, exactly like the reference.

    Distributed throughout: components via large-star/small-star, the
    keep/drop sets via min + anti-joins (the reference's
    ``~isin(python_list)`` cannot scale).
    """
    edges = matched.select(
        _node("a", F.col("id1")).alias("src"), _node("d", F.col("id2")).alias("dst")
    )
    labels = connected_components(edges)  # (id=node, component_id)
    big = (
        labels.groupBy("component_id")
        .agg(F.count("*").alias("sz"))
        .where(F.col("sz") > 2)
        .select("component_id")
    )

    l_nodes = left.select(
        F.col(id_col).alias("pid"), _node("a", F.col(id_col)).alias("nid")
    )
    r_nodes = right.select(
        F.col(id_col).alias("pid"), _node("d", F.col(id_col)).alias("nid")
    )
    l_in_big = (
        l_nodes.join(labels, l_nodes["nid"] == labels["id"])
        .join(big, "component_id", "left_semi")
        .select("pid", "component_id")
    )
    keep_l = l_in_big.groupBy("component_id").agg(F.min("pid").alias("pid"))
    drop_l = l_in_big.join(keep_l, ["component_id", "pid"], "left_anti").select("pid")
    drop_r = (
        r_nodes.join(labels, r_nodes["nid"] == labels["id"])
        .join(big, "component_id", "left_semi")
        .select("pid")
    )

    left_dedup = left.join(
        drop_l.withColumnRenamed("pid", id_col), id_col, "left_anti"
    )
    right_dedup = right.join(
        drop_r.withColumnRenamed("pid", id_col), id_col, "left_anti"
    )
    preserved = left.join(
        keep_l.select("pid").withColumnRenamed("pid", id_col), id_col, "left_semi"
    )
    return left_dedup, right_dedup.unionByName(preserved)
