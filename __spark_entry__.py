"""Driver contract for the spark-graft builder (PySpark target).

Every implemented operator from SURVEY.md §2 (plus the training-data
surface: dedup / similarity-search / text-analysis / streaming-batch
twins) gets a ``queries()`` entry; each has a byte-portable DuckDB
oracle in ``oracle_sql()`` built on md5-hex hashing + identical
normalization chains, so the driver's value-hash comparison is exact.

Tables used: ``documents`` (doc_id, text, lang, source, n_chars),
``embeddings`` (vec_id, embedding, label), ``events``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_resolution_pipeline_spark.config import (
    STOPWORDS,
    BlockingConfig,
    MatchingConfig,
)
from entity_resolution_pipeline_spark.functions.normalize import (
    normalize_text,
    normalize_text_sql,
)
from entity_resolution_pipeline_spark.functions.similarity import (
    dice_sim_arrays,
    jaccard_sim,
    jaccard_sim_arrays,
    jaro_winkler_sim,
    levenshtein_sim,
)
from entity_resolution_pipeline_spark.functions.text import (
    bpe_ish_token_count,
    char_ngrams,
    distinct_tokens,
    doc_fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    tokens_without_stopwords,
)
from entity_resolution_pipeline_spark.operators.blocking import (
    candidate_pairs,
    filter_blocks,
    blocking_keys,
)
from entity_resolution_pipeline_spark.operators.clustering import (
    cluster_representatives,
    connected_components,
)
from entity_resolution_pipeline_spark.operators.dedup import (
    dedup_exact,
    minhash_near_duplicates,
    minhash_signatures,
    ngram_jaccard_duplicates,
    simhash_near_duplicates,
    simhash_table,
)
from entity_resolution_pipeline_spark.operators.evaluate import pairwise_f1
from entity_resolution_pipeline_spark.operators.matching import (
    join_pair_records,
    matched_pairs,
    score_pairs,
)
from entity_resolution_pipeline_spark.operators.similarity_search import (
    brute_force_topk,
    embedding_near_duplicates,
    lsh_topk,
)
from entity_resolution_pipeline_spark.session import ensure_parallelism
from entity_resolution_pipeline_spark.streaming.windows import (
    sessionize_batch,
    windowed_event_counts_batch,
)

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

NGRAM_CFG = BlockingConfig(scheme="ngram_word", ngram_n=3)
MATCH_W = (0.4, 0.4, 0.2)  # jaccard, trigram-dice, lang-eq
MATCH_THETA = 0.55
# documents scored by the pipeline's matcher: token Jaccard in the
# title slot, char-trigram Dice in the authors slot, both over text_norm
DOC_MATCH = MatchingConfig(
    method="jaccard", authors_method="trigram", weights=MATCH_W, threshold=MATCH_THETA
)
MINHASH_K = 12
MINHASH_BANDS = 4
MINHASH_THETA = 0.3
NGRAM_JACCARD_THETA = 0.3

_NORM = normalize_text_sql("text")
_STOPLIST = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

# normalized documents (Spark side); fan the (small-file) scan out so
# per-row heavy exprs parallelize — see session.ensure_parallelism
def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).withColumn("text_norm", normalize_text("text"))


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ensure_parallelism(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timestamps must round-trip UTC-naive to match the DuckDB oracle —
    # pin the session TZ regardless of how the caller built the session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _raw_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ensure_parallelism(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _synth_url() -> Column:
    """Deterministic messy URL per document (documents carry no URL
    column); MUST stay in lockstep with the ``_URL_SQL`` oracle twin."""
    d = F.col("doc_id").cast("string")
    s = F.col("source")
    return (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("HTTP://WWW."), s, F.lit(".Example.COM:80/a/b/p"), d,
                F.lit("?utm_source=feed&z=1&a=2#frag"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(
                F.lit("https://"), s, F.lit(".example.com:443/"),
                F.col("lang"), F.lit("/x?b=2&a=1"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(
                F.lit("https://news."), s, F.lit(".co.uk:8443/path/"), d,
                F.lit("?gclid=zz"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 3,
            F.concat(F.lit("http://"), s, F.lit(".example.com")),
        )
        .otherwise(
            F.concat(F.lit("https://cdn."), s, F.lit(".net/img/"), d, F.lit("/"))
        )
    )


# oracle twin of _synth_url() — identical CASE, DuckDB dialect
_URL_SQL = """
CASE doc_id % 5
  WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/a/b/p' || doc_id
              || '?utm_source=feed&z=1&a=2#frag'
  WHEN 1 THEN 'https://' || source || '.example.com:443/' || lang || '/x?b=2&a=1'
  WHEN 2 THEN 'https://news.' || source || '.co.uk:8443/path/' || doc_id
              || '?gclid=zz'
  WHEN 3 THEN 'http://' || source || '.example.com'
  ELSE 'https://cdn.' || source || '.net/img/' || doc_id || '/'
END
"""


# DuckDB CTE fragments ------------------------------------------------------

# normalized docs + token lists
_D = f"""
d AS (
  SELECT doc_id, text, lang, {_NORM} AS tn,
         string_split({_NORM}, ' ') AS toks
  FROM documents
)
"""

# distinct word-3gram shingles per doc
_SHINGLES = """
sh AS (
  SELECT doc_id,
         list_distinct(
           list_transform(range(1, greatest(len(toks) - 1, 1)),
                          i -> array_to_string(list_slice(toks, i, i + 2), ' '))
         ) AS sh
  FROM d
)
"""

# capped ngram-block candidate pairs (mirror of candidate_pairs @ ngram_word)
_CAND_PAIRS = """
post AS (SELECT doc_id, unnest(sh) AS key FROM sh),
ok AS (
  SELECT key FROM post GROUP BY key
  HAVING count(*) >= 2 AND count(*) < 1000
),
kp AS (SELECT post.doc_id, post.key FROM post JOIN ok USING (key)),
pairs AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM kp a JOIN kp b USING (key)
  WHERE a.doc_id < b.doc_id
)
"""

# per-doc distinct token sets (for jaccard)
_TOKSETS = """
ts AS (SELECT doc_id, list_distinct(toks) AS tset, tn, lang FROM d)
"""

_JACCARD = (
    "CASE WHEN len(list_distinct(list_concat(t1.tset, t2.tset))) > 0 "
    "THEN len(list_intersect(t1.tset, t2.tset)) "
    "/ len(list_distinct(list_concat(t1.tset, t2.tset))) ELSE 0.0 END"
)

# char-trigram distinct sets of tn with 2-space padding both ends
_TRIGRAMS = """
tg AS (
  SELECT doc_id,
         CASE WHEN len(tn) > 0 THEN
           list_distinct(list_transform(range(1, len('  ' || tn || '  ') - 1),
                          i -> substr('  ' || tn || '  ', i, 3)))
         ELSE [] END AS grams
  FROM d
)
"""

_DICE = (
    "CASE WHEN len(g1.grams) + len(g2.grams) > 0 "
    "THEN 2.0 * len(list_intersect(g1.grams, g2.grams)) "
    "/ (len(g1.grams) + len(g2.grams)) ELSE 0.0 END"
)


def _scored_pairs_sql() -> str:
    """matched-pairs CTE: weighted jaccard+dice+lang over candidates."""
    w0, w1, w2 = MATCH_W
    return f"""
WITH {_D}, {_SHINGLES}, {_CAND_PAIRS}, {_TOKSETS}, {_TRIGRAMS},
scored AS (
  SELECT p.id1, p.id2,
         {w0} * ({_JACCARD}) + {w1} * ({_DICE})
         + {w2} * (CASE WHEN t1.lang = t2.lang THEN 1 ELSE 0 END) AS sim
  FROM pairs p
  JOIN ts t1 ON p.id1 = t1.doc_id
  JOIN ts t2 ON p.id2 = t2.doc_id
  JOIN tg g1 ON p.id1 = g1.doc_id
  JOIN tg g2 ON p.id2 = g2.doc_id
),
matched AS (SELECT id1, id2, sim FROM scored WHERE sim > {MATCH_THETA})
"""


def _components_sql() -> str:
    """recursive-CTE min-label closure over matched pairs (the oracle for
    large-star/small-star — same partition, computed by brute reachability)."""
    return (
        _scored_pairs_sql().replace("WITH ", "WITH RECURSIVE ", 1)
        + """
, sym AS (
  SELECT id1 AS src, id2 AS dst FROM matched
  UNION SELECT id2, id1 FROM matched
),
nodes AS (SELECT DISTINCT src AS id FROM sym),
reach AS (
  SELECT id, id AS r FROM nodes
  UNION
  SELECT reach.id, sym.dst FROM reach JOIN sym ON reach.r = sym.src
),
comp AS (SELECT id, min(r) AS component_id FROM reach GROUP BY id)
"""
    )


def _er_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents in the record schema ``operators.matching`` scores:
    ``doc_id`` plus text_norm as both ``title_norm`` and ``authors_norm``."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.col("text_norm").alias("title_norm"),
        F.col("text_norm").alias("authors_norm"),
        "lang",
    )


def _doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return candidate_pairs(
        _docs(spark, sf_dir), NGRAM_CFG, id_col="doc_id", text_col="text_norm"
    )


def _spark_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the scored CTE (pre-threshold)."""
    return score_pairs(
        _doc_pairs(spark, sf_dir), _er_records(spark, sf_dir), DOC_MATCH, id_col="doc_id"
    ).withColumnRenamed("similarity", "sim")


def _spark_matched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the matched CTE."""
    return matched_pairs(
        _doc_pairs(spark, sf_dir), _er_records(spark, sf_dir), DOC_MATCH, id_col="doc_id"
    ).withColumnRenamed("similarity", "sim")


def _spark_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    matched = _spark_matched(spark, sf_dir)
    edges = matched.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    # component ids are min-of-member; ids are bigint doc_ids — cast the
    # string labels back for oracle parity
    labels = connected_components(edges)
    return labels.select(
        F.col("id").cast("long").alias("id"),
        F.col("component_id").cast("long").alias("component_id"),
    )


# ---------------------------------------------------------------------------
# entry — flagship query (smoke check @ sf0.001)
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: ER over the documents table end-to-end — ngram blocking →
    weighted similarity → threshold → connected components → cluster
    representatives."""
    sf_dir = "/root/testdata/sf0.001"
    labels = _spark_components(spark, sf_dir).select(
        F.col("id").cast("string").alias("id"),
        F.col("component_id").cast("string").alias("component_id"),
    )
    return cluster_representatives(labels)


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # -- P1/P2: normalization chain (byte-identical contract) -------------
    q["normalize_text"] = lambda spark, sf: _docs(spark, sf).select(
        "doc_id", F.col("text_norm")
    )

    # -- P4/P5/P7/P10 + T10/T11/T12/T13: per-document text profile --------
    # One wide projection covers tokenization counts, char n-grams,
    # fingerprinting, language ID and quality scoring in a single driver
    # row — each piece keeps its own unit pytest; merging them frees
    # registry slots so the driver's 50-entry correctness gate reaches
    # every operator (r4 verdict #1).  Zero-shuffle codegen projection.
    def doc_profile(spark, sf):
        d = _docs(spark, sf)
        return d.select(
            "doc_id",
            token_count("text").cast("long").alias("n_tokens"),
            F.size(distinct_tokens("text_norm")).cast("long").alias("n_distinct"),
            F.size(tokens_without_stopwords("text_norm")).cast("long").alias("n_content"),
            bpe_ish_token_count("text").cast("long").alias("n_bpe"),
            F.size(char_ngrams("text_norm", 3)).cast("long").alias("n_trigrams"),
            doc_fingerprint("text", 8).alias("fp"),
            lang_id("text").alias("lang_pred"),
            F.round(punct_ratio("text"), 6).alias("punct_ratio"),
            F.round(stopword_ratio("text"), 6).alias("stopword_ratio"),
            F.round(quality_score("text"), 6).alias("quality"),
        )

    q["doc_profile"] = doc_profile

    # -- B3: token block index with cap (B-series) ------------------------
    def block_index(spark, sf):
        d = _docs(spark, sf)
        # raw (unhashed) keys: the oracle checks key text itself
        cfg = BlockingConfig(scheme="token", hash_keys=False)
        keys = blocking_keys(d, cfg, id_col="doc_id", text_col="text_norm")
        return (
            filter_blocks(keys, cfg)
            .select("key", F.col("block_count").cast("long").alias("block_count"))
            .distinct()
        )

    q["token_block_index"] = block_index

    # -- B1/B2/B5/B6: ngram-blocked candidate pairs ------------------------
    q["candidate_pairs_ngram"] = _doc_pairs

    # -- M2/M3/M4/M5: pair→record join + all three builtin similarity
    # scores in ONE wide projection over the same candidate pairs (the
    # per-doc feature sets are computed once and joined twice — O(docs)
    # set construction, never O(pairs) recomputation)
    def pair_scores(spark, sf):
        feats = _docs(spark, sf).select(
            "doc_id",
            F.substring("text_norm", 1, 60).alias("t"),
            distinct_tokens("text_norm").alias("tset"),
            char_ngrams("text_norm", 3).alias("grams"),
        )
        return join_pair_records(
            _doc_pairs(spark, sf), feats, "doc_id", ("t", "tset", "grams")
        ).select(
            "id1",
            "id2",
            F.round(levenshtein_sim(F.col("t_1"), F.col("t_2")), 6).alias("lev_sim"),
            F.round(jaccard_sim_arrays(F.col("tset_1"), F.col("tset_2")), 6).alias("jaccard"),
            F.round(dice_sim_arrays(F.col("grams_1"), F.col("grams_2")), 6).alias("dice"),
        )

    q["pair_scores"] = pair_scores

    # -- M5b: Jaro-Winkler via Arrow pandas UDF (subsampled pairs) --------
    def jw_pairs(spark, sf):
        docs = _docs(spark, sf).select(
            "doc_id", F.substring("text_norm", 1, 60).alias("t")
        )
        pairs = _doc_pairs(spark, sf).where((F.col("id1") + F.col("id2")) % 7 == 0)
        return join_pair_records(pairs, docs, "doc_id", ("t",)).select(
            "id1",
            "id2",
            F.round(jaro_winkler_sim(F.col("t_1"), F.col("t_2")), 6).alias("jw"),
        )

    q["jaro_winkler_pairs"] = jw_pairs

    # -- M8/M9: weighted score + threshold --------------------------------
    q["matched_pairs"] = lambda spark, sf: _spark_matched(spark, sf).select(
        "id1", "id2", F.round("sim", 6).alias("sim")
    )

    # -- E2: threshold sweep ----------------------------------------------
    def sweep(spark, sf):
        scored = _spark_scored(spark, sf)
        thetas = F.array(*[F.lit(t) for t in (0.5, 0.6, 0.7, 0.8)])
        return (
            scored.select("sim", F.explode(thetas).alias("theta"))
            .where(F.col("sim") > F.col("theta"))
            .groupBy("theta")
            .agg(F.count("*").alias("n_matched"))
        )

    q["threshold_sweep"] = sweep

    # -- B4: sorted-neighborhood blocking ---------------------------------
    q["sorted_neighborhood_pairs"] = lambda spark, sf: candidate_pairs(
        _docs(spark, sf),
        BlockingConfig(scheme="sorted_neighborhood"),
        id_col="doc_id",
        text_col="text_norm",
    )

    # -- M6: TF-IDF cosine scoring (sparse, DataFrame-native) --------------
    def tfidf_pairs(spark, sf):
        from entity_resolution_pipeline_spark.operators.tfidf import (
            tfidf_cosine_pairs,
        )

        docs = _docs(spark, sf)
        pairs = candidate_pairs(docs, NGRAM_CFG, id_col="doc_id", text_col="text_norm")
        return tfidf_cosine_pairs(docs, pairs, id_col="doc_id", text_col="text").select(
            "id1", "id2", F.round("cosine", 6).alias("cosine")
        )

    q["tfidf_cosine_pairs"] = tfidf_pairs

    # -- C3: connected components (large-star/small-star) -----------------
    q["connected_components"] = _spark_components

    # -- C5/C7: cluster representatives -----------------------------------
    q["cluster_representatives"] = lambda spark, sf: cluster_representatives(
        _spark_components(spark, sf)
    )

    # -- E1: pairwise precision/recall/F1 ---------------------------------
    def f1_eval(spark, sf):
        pred = _spark_matched(spark, sf).select("id1", "id2")
        gold = (
            join_pair_records(
                _doc_pairs(spark, sf), _docs(spark, sf), "doc_id", ("text_norm",)
            )
            .where(jaccard_sim(F.col("text_norm_1"), F.col("text_norm_2")) >= 0.5)
            .select("id1", "id2")
        )
        m = pairwise_f1(pred, gold)
        rates = (round(m.precision, 6), round(m.recall, 6), round(m.f1, 6))
        return spark.createDataFrame(
            [(m.tp, m.tp + m.fp, m.tp + m.fn, *rates)],
            "tp long, n_pred long, n_gold long, precision double, recall double, f1 double",
        )

    q["pairwise_f1"] = f1_eval

    # -- S2-analog: exact dedup -------------------------------------------
    q["dedup_exact"] = lambda spark, sf: dedup_exact(
        _raw_docs(spark, sf)
    ).select("doc_id")

    # -- C6 over near-dups: keep min-id representative per LSH cluster ----
    def dedup_near(spark, sf):
        docs = _raw_docs(spark, sf)
        dup_pairs = minhash_near_duplicates(
            docs, threshold=MINHASH_THETA, num_hashes=MINHASH_K, bands=MINHASH_BANDS
        )
        edges = dup_pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        labels = connected_components(edges)
        dropped = labels.where(F.col("id") != F.col("component_id")).select(
            F.col("id").cast("long").alias("doc_id")
        )
        return docs.join(dropped, "doc_id", "left_anti").select("doc_id")

    q["dedup_documents_near"] = dedup_near

    # -- grouped-map applyInPandas: per-lang length quantiles -------------
    def lang_quantiles(spark, sf):
        import pandas as pd

        def stats(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            q25, q50, q75 = np.percentile(pdf["n_chars"], [25, 50, 75])
            return pd.DataFrame(
                {
                    "lang": [pdf["lang"].iloc[0]],
                    "p25": [round(float(q25), 6)],
                    "p50": [round(float(q50), 6)],
                    "p75": [round(float(q75), 6)],
                    "n_docs": [len(pdf)],
                }
            )

        return (
            _raw_docs(spark, sf)
            .select("lang", "n_chars")
            .groupBy("lang")
            .applyInPandas(
                stats, "lang string, p25 double, p50 double, p75 double, n_docs long"
            )
        )

    q["lang_length_quantiles"] = lang_quantiles

    # -- T2 + T4: MinHash signatures and SimHash in one sketch frame ------
    # (both are per-doc map-side sketches; the equi-join on doc_id is
    # trivially co-partitioned — merged so each keeps a driver row
    # within the 50-entry gate)
    def doc_sketches(spark, sf):
        d = _raw_docs(spark, sf)
        sigs = minhash_signatures(d, num_hashes=MINHASH_K).withColumnRenamed(
            "id", "doc_id"
        )
        sh = simhash_table(d).select(
            F.col("id").alias("doc_id"), F.col("sh").cast("long").alias("sh")
        )
        return sigs.join(sh, "doc_id")

    q["doc_sketches"] = doc_sketches

    # -- MinHash + LSH near-dup -------------------------------------------
    q["minhash_near_dups"] = lambda spark, sf: minhash_near_duplicates(
        _raw_docs(spark, sf),
        threshold=MINHASH_THETA,
        num_hashes=MINHASH_K,
        bands=MINHASH_BANDS,
    )

    # -- SimHash near-dup (bit-banded) ------------------------------------
    q["simhash_near_dups"] = lambda spark, sf: simhash_near_duplicates(
        _raw_docs(spark, sf), max_hamming=3
    ).select("id1", "id2", F.col("hamming").cast("long").alias("hamming"))

    # -- N-gram Jaccard near-dup ------------------------------------------
    q["ngram_jaccard_dups"] = lambda spark, sf: ngram_jaccard_duplicates(
        _raw_docs(spark, sf),
        threshold=NGRAM_JACCARD_THETA,
        max_block_size=1000,
    )

    # -- prefix-filtered Jaccard join (lossless, PPJoin-style) ------------
    def prefix_jaccard(spark, sf):
        from entity_resolution_pipeline_spark.operators.dedup import (
            prefix_filter_jaccard_duplicates,
        )

        return prefix_filter_jaccard_duplicates(_raw_docs(spark, sf), threshold=0.3)

    q["prefix_jaccard_dups"] = prefix_jaccard

    # -- edit-distance-bounded join (banded range join) -------------------
    def ed_join(spark, sf):
        from entity_resolution_pipeline_spark.operators.matching import (
            edit_distance_join,
        )

        return edit_distance_join(_raw_docs(spark, sf), k=8, prefix_len=40)

    q["edit_distance_join"] = ed_join

    # -- T7/T8/T8b: all three ANN strategies (brute / hyperplane-LSH /
    # IVF) unioned with a method tag — one driver row checks each
    # method's exact (query, neighbor, rank, score) output
    def ann_methods(spark, sf):
        from entity_resolution_pipeline_spark.operators.similarity_search import (
            ivf_topk,
        )

        emb = _embeddings(spark, sf)
        queries_df = emb.where(F.col("vec_id") < 3)

        def tag(df: DataFrame, method: str) -> DataFrame:
            return df.select(
                F.lit(method).alias("method"),
                "query_id",
                "neighbor_id",
                F.col("rank").cast("long").alias("rank"),
                "score",
            )

        return (
            tag(brute_force_topk(emb, queries_df, k=5), "brute")
            .unionByName(tag(lsh_topk(emb, queries_df, k=5), "lsh"))
            .unionByName(
                tag(ivf_topk(emb, queries_df, k=5, num_cells=8, nprobe=3), "ivf")
            )
        )

    q["ann_methods"] = ann_methods

    # -- embedding-cosine near-dup (approximate; rows-only check) ----------
    # θ=0.4 matches the synthetic embedding-space density (max pairwise
    # cosine in the test corpus ≈ 0.51); production near-dup θ ≈ 0.95
    q["embedding_near_dups"] = lambda spark, sf: embedding_near_duplicates(
        _embeddings(spark, sf), threshold=0.4
    )

    # -- ANN recall@k: LSH top-k audited against exact brute force ---------
    def ann_recall(spark, sf):
        emb = _embeddings(spark, sf)
        q = emb.where(F.col("vec_id") < 3)
        exact = brute_force_topk(emb, q, k=5).select("query_id", "neighbor_id")
        approx = lsh_topk(emb, q, k=5).select("query_id", "neighbor_id")
        hit = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        return exact.agg(
            F.count("*").cast("long").alias("n_exact")
        ).crossJoin(hit.agg(F.count("*").cast("long").alias("n_hit"))).select(
            "n_exact",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_exact"), 6).alias("recall_at_k"),
        )

    q["ann_recall"] = ann_recall

    # (the stub-decode twin `media_features` was retired from the
    # registry in r5 — the real-codec path below is the stronger check
    # and the stub remains pytest-covered — to keep the driver's
    # 50-entry correctness gate over every distinct operator)

    # -- multimodal REAL decode: BMP/WAV containers genuinely parsed
    # (headers, row padding, bottom-up BGR rows, RIFF chunk walk) by
    # operators/multimodal.decode_bmp/decode_wav; the oracle regenerates
    # the known pixel/sample streams and recomputes the expected
    # features — the Spark side sees only container bytes ---------------
    def media_features_real(spark, sf):
        from entity_resolution_pipeline_spark.operators.multimodal import (
            extract_media_features,
            real_decode,
            synth_real_media,
        )

        feats = extract_media_features(
            synth_real_media(spark, 64), decoder=real_decode
        )
        return feats.select(
            "media_id",
            "kind",
            "width",
            "height",
            *[
                F.round(F.element_at("feature", i + 1).cast("double"), 6).alias(
                    f"f{i}"
                )
                for i in range(8)
            ],
        )

    q["media_features_real"] = media_features_real

    # -- multimodal frame sampling (video rows, posexplode fan-out) -------
    def frame_samples(spark, sf):
        from entity_resolution_pipeline_spark.operators.multimodal import (
            frame_sample,
            synth_media,
        )

        return frame_sample(synth_media(spark, 64)).select(
            "media_id",
            F.col("frame_pos").cast("long").alias("frame_pos"),
            F.col("frame_index").cast("long").alias("frame_index"),
        )

    q["frame_samples"] = frame_samples

    # -- streaming near-dup batch twin: new docs vs static corpus index ---
    def stream_near(spark, sf):
        from entity_resolution_pipeline_spark.streaming.neardup import (
            banded_minhash_index,
            near_dups_against,
        )

        d = _raw_docs(spark, sf)
        corpus_idx = banded_minhash_index(d.where(F.col("doc_id") < 400))
        new = d.where(F.col("doc_id") >= 400)
        return near_dups_against(new, corpus_idx, threshold=MINHASH_THETA)

    q["stream_near_dups"] = stream_near

    # -- rollup aggregation (lang × source hierarchy) ----------------------
    def rollup_counts(spark, sf):
        return (
            _raw_docs(spark, sf)
            .rollup("lang", "source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars"),
            )
        )

    q["rollup_counts"] = rollup_counts

    # -- as-of join: each purchase ↦ most recent prior view ----------------
    def asof(spark, sf):
        from entity_resolution_pipeline_spark.operators.asof import asof_join

        ev = _events(spark, sf)
        purchases = ev.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        )
        views = ev.where(F.col("event_type") == "view").select(
            "user_id", "ts", F.col("value").alias("view_value")
        )
        out = asof_join(purchases, views, by=["user_id"], ts_col="ts")
        # inner semantics: NULL-timestamp rows stringify differently
        # across engines' dataframe layers; matched rows compare exactly
        return out.where(F.col("ts_asof").isNotNull()).select(
            "event_id",
            "user_id",
            "ts",
            F.round("view_value_asof", 6).alias("view_value_asof"),
            "ts_asof",
        )

    q["asof_join"] = asof

    # -- streaming batch-twin: tumbling window counts ----------------------
    q["events_windowed"] = lambda spark, sf: windowed_event_counts_batch(
        _events(spark, sf)
    )

    # -- streaming batch-twin: sessionization ------------------------------
    q["sessionize"] = lambda spark, sf: sessionize_batch(
        _events(spark, sf), gap_seconds=1800
    ).select(
        "user_id",
        "session_start",
        "session_end",
        F.col("n_events").cast("long").alias("n_events"),
    )

    # -- corpus curation (operators/corpus.py, r3): sampling / quality
    # gates / repetition signals / per-source triage -----------------------
    def strat_sample(spark, sf):
        from entity_resolution_pipeline_spark.operators.corpus import (
            stratified_sample,
        )

        return stratified_sample(
            _raw_docs(spark, sf),
            {"en": 0.5, "de": 0.2},
            default_rate=0.1,
        ).select("doc_id", "lang")

    q["stratified_sample"] = strat_sample

    def exact_k(spark, sf):
        from entity_resolution_pipeline_spark.operators.corpus import (
            exact_k_sample,
        )

        return exact_k_sample(_raw_docs(spark, sf), k=5).select("doc_id", "lang")

    q["exact_k_sample"] = exact_k

    def rep_stats(spark, sf):
        from entity_resolution_pipeline_spark.operators.corpus import (
            repetition_stats,
        )

        return repetition_stats(_raw_docs(spark, sf))

    q["repetition_stats"] = rep_stats

    def c4_gate(spark, sf):
        from entity_resolution_pipeline_spark.operators.corpus import (
            c4_quality_gate,
        )

        return c4_quality_gate(_raw_docs(spark, sf))

    q["c4_gate"] = c4_gate

    def src_stats(spark, sf):
        from entity_resolution_pipeline_spark.operators.corpus import (
            source_stats,
        )

        return source_stats(_raw_docs(spark, sf))

    q["source_stats"] = src_stats

    # paragraph_dedup exercised at token granularity (the corpus is
    # single-line, so sep=' ' makes every token a "paragraph"): global
    # first-occurrence survives, rebuilt text + drop counts checked
    def para_dedup(spark, sf):
        from entity_resolution_pipeline_spark.operators.corpus import (
            paragraph_dedup,
        )

        return paragraph_dedup(
            _raw_docs(spark, sf).where(F.col("doc_id") < 100), sep=" "
        )

    q["paragraph_dedup"] = para_dedup

    def tok_budget(spark, sf):
        from entity_resolution_pipeline_spark.operators.corpus import (
            token_budget_sample,
        )

        return token_budget_sample(_raw_docs(spark, sf), 2000).select(
            "doc_id", "lang", "n_tokens", "cum_tokens"
        )

    q["token_budget_sample"] = tok_budget

    def shingle_overlap(spark, sf):
        from entity_resolution_pipeline_spark.operators.corpus import (
            shingle_overlap_stats,
        )

        return shingle_overlap_stats(_raw_docs(spark, sf))

    q["shingle_overlap"] = shingle_overlap

    # (the exact-join decontamination twin `contamination` was retired
    # from the registry in r5: `contamination_bloom` below produces
    # IDENTICAL output by construction — the Bloom bitmap is a prefilter
    # ahead of the same exact verify join — and the two paths are pinned
    # equal by pytest, so one driver row covers both T30 and T35)

    # windowed decontamination: longest contiguous run of benchmark-hit
    # shingle positions per training doc (GPT-3/Lee-et-al form)
    def contamination_spans_q(spark, sf):
        from entity_resolution_pipeline_spark.operators.corpus import (
            contamination_spans,
        )

        docs = _raw_docs(spark, sf)
        return contamination_spans(
            docs.where(F.col("source") != "src0"),
            docs.where(F.col("source") == "src0"),
        )

    q["contamination_spans"] = contamination_spans_q

    # Gopher-style duplicate-n-gram character fractions (n=2 top-gram
    # gate, n=5 duplicate-mass gate)
    def dup_ngram_stats_q(spark, sf):
        from entity_resolution_pipeline_spark.operators.corpus import (
            dup_ngram_stats,
        )

        return dup_ngram_stats(_raw_docs(spark, sf), ns=(2, 5))

    q["dup_ngram_stats"] = dup_ngram_stats_q

    # PII scrub: the synthetic corpus has no PII, so BOTH sides inject
    # the same deterministic hits first — the oracle then checks
    # counts + redacted text non-trivially
    def pii_scrub_q(spark, sf):
        from entity_resolution_pipeline_spark.operators.scrub import pii_scrub

        docs = _raw_docs(spark, sf).select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(
                    F.col("doc_id") % 7 == 0,
                    F.lit(" contact ops-7@example.com or 10.1.2.34"),
                )
                .when(
                    F.col("doc_id") % 11 == 3,
                    F.lit(" call +44 20 7946 0958 now"),
                )
                .when(
                    F.col("doc_id") % 13 == 5,
                    F.lit(" node fe80:0db8:85a3:1:2:8a2e:370:7334 up"),
                )
                .when(
                    F.col("doc_id") % 17 == 2,
                    F.lit(" pay DE89370400440532013000 today"),
                )
                .when(
                    F.col("doc_id") % 19 == 7,
                    F.lit(" ssn 123-45-6789 leaked"),
                )
                .otherwise(F.lit("")),
            ).alias("text"),
        )
        return pii_scrub(docs)

    q["pii_scrub"] = pii_scrub_q

    # Bloom-prefiltered decontamination scale path: bitmap over the
    # benchmark digests broadcast once, corpus shingles discarded
    # map-side, exact join verifies — output IDENTICAL to
    # `contamination` by construction, so it shares that oracle
    def contamination_bloom(spark, sf):
        from entity_resolution_pipeline_spark.operators.corpus import (
            flag_contamination,
        )

        docs = _raw_docs(spark, sf)
        return flag_contamination(
            docs.where(F.col("source") != "src0"),
            docs.where(F.col("source") == "src0"),
            bloom_bits=1 << 18,
        )

    q["contamination_bloom"] = contamination_bloom

    # URL canonicalization + per-domain triage: documents carry no URL
    # column, so BOTH sides first derive the same deterministic URL
    # (deliberately messy: case, www, default/explicit ports, tracking
    # params, fragments, co.uk suffixes) from (doc_id, source, lang)
    def url_canon_q(spark, sf):
        from entity_resolution_pipeline_spark.operators.weburl import (
            url_canonicalize,
        )

        docs = _raw_docs(spark, sf)
        return url_canonicalize(
            docs.select("doc_id", _synth_url().alias("url"))
        )

    q["url_canon"] = url_canon_q

    def host_stats_q(spark, sf):
        from entity_resolution_pipeline_spark.operators.weburl import (
            host_stats,
        )

        docs = _raw_docs(spark, sf)
        return host_stats(
            docs.select("doc_id", _synth_url().alias("url"), "text")
        )

    q["host_stats"] = host_stats_q

    # C4 line-level cleaning: the corpus is single-line, so BOTH sides
    # first synthesize the same multi-line text (word-boundary breaks +
    # per-doc_id suffixes exercising every rule: short lines, javascript
    # lines, lorem-ipsum / brace page kills)
    def c4_lines_q(spark, sf):
        from entity_resolution_pipeline_spark.operators.corpus import (
            c4_line_filter,
        )

        docs = _raw_docs(spark, sf)
        lined = F.concat(
            F.replace(
                F.replace(F.col("text"), F.lit(" batch "), F.lit(".\n")),
                F.lit(" join "),
                F.lit("\n"),
            ),
            F.when(F.col("doc_id") % 7 == 0, F.lit("\nlorem ipsum"))
            .when(
                F.col("doc_id") % 7 == 1,
                F.lit("\nenable javascript to view this content today."),
            )
            .when(F.col("doc_id") % 7 == 2, F.lit("\nvar x = {a: 1}"))
            .when(F.col("doc_id") % 7 == 3, F.lit("\nyes."))
            .otherwise(F.lit("")),
        )
        return c4_line_filter(docs.select("doc_id", lined.alias("text")))

    q["c4_line_filter"] = c4_lines_q

    # per-domain boilerplate line removal: same multi-line synthesis
    # trick + injected footer lines (copyright on every page of a
    # source, newsletter on every 3rd page) so the boilerplate set is
    # non-trivial and domain-dependent (example.com mixes sources, so
    # per-source footers fall BELOW min_frac there but clear it on the
    # single-source co.uk / .net domains)
    def boilerplate_q(spark, sf):
        from entity_resolution_pipeline_spark.operators.weburl import (
            boilerplate_lines,
        )

        docs = _raw_docs(spark, sf)
        lined = F.concat(
            F.replace(F.col("text"), F.lit(" batch "), F.lit("\n")),
            F.lit("\ncopyright "),
            F.col("source"),
            F.lit(" all rights reserved"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\nsubscribe to our newsletter today"),
            ).otherwise(F.lit("")),
        )
        return boilerplate_lines(
            docs.select(
                "doc_id", _synth_url().alias("url"), lined.alias("text")
            ),
            min_pages=2,
            min_frac=0.3,
        )

    q["boilerplate_lines"] = boilerplate_q

    # crawl-snapshot dedup: newest capture per canonical URL.  The
    # synthetic URL's case-1 shape carries no doc_id, so those URLs
    # genuinely collapse across docs (n_captures > 1); ts is a
    # deterministic pseudo-timestamp from doc_id
    def latest_capture_q(spark, sf):
        from entity_resolution_pipeline_spark.operators.weburl import (
            latest_capture,
        )

        docs = _raw_docs(spark, sf)
        ts = (F.col("doc_id") * F.lit(2654435761)) % F.lit(1000000)
        return latest_capture(
            docs.select("doc_id", _synth_url().alias("url"), ts.alias("ts"))
        )

    q["latest_capture"] = latest_capture_q

    # exact duplicate-span removal (Lee et al. 2022 form): k=5 token
    # shingles over the raw corpus — the Zipf vocabulary guarantees
    # real cross-document 5-gram collisions at sf0.01
    def dedup_spans_q(spark, sf):
        from entity_resolution_pipeline_spark.operators.corpus import (
            remove_duplicate_spans,
        )

        return remove_duplicate_spans(_raw_docs(spark, sf), k=5)

    q["dedup_spans"] = dedup_spans_q

    # the oracle gate checks the first 50 entries: every registered
    # query must be one of them
    assert len(q) <= 50, len(q)
    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["normalize_text"] = f"SELECT doc_id, {_NORM} AS text_norm FROM documents"

    # merged per-document profile: tokenization counts + char-trigram
    # count + rolling-hash fingerprint + n-gram language ID + quality
    # scores, all from one pass over d (the pieces were separate r1–r3
    # oracles; merged verbatim so each operator keeps a driver row)
    markers = {
        "en": ("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
        "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"),
        "fr": ("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "des"),
        "es": ("el", "los", "las", "es", "una", "en", "que", "por", "para", "con"),
    }
    hits = {
        lang: f"len(list_intersect(list_distinct(toks), [{', '.join(repr(m) for m in ms)}]))"
        for lang, ms in markers.items()
    }
    best = f"greatest({hits['en']}, {hits['de']}, {hits['fr']}, {hits['es']})"
    n_stop = f"len(list_filter(toks, t -> list_contains({_STOPLIST}, t)))"
    sw_ratio = f"(CASE WHEN len(toks) > 0 THEN {n_stop} / len(toks) ELSE 0.0 END)"
    p_ratio = (
        "(CASE WHEN len(text) > 0 THEN "
        "(len(text) - len(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / len(text) "
        "ELSE 0.0 END)"
    )
    o["doc_profile"] = f"""
WITH {_D}, {_TRIGRAMS}
SELECT d.doc_id,
  len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tokens,
  len(list_distinct(toks))::BIGINT AS n_distinct,
  len(list_filter(list_distinct(toks),
      t -> NOT list_contains({_STOPLIST}, t)))::BIGINT AS n_content,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_bpe,
  len(grams)::BIGINT AS n_trigrams,
  CASE WHEN len(tn) > 0 THEN
    list_aggregate(list_transform(range(1, greatest(len(tn) - 7, 1) + 1),
                   i -> md5(substr(tn, i, 8))), 'min')
  ELSE NULL END AS fp,
  CASE WHEN {best} = 0 THEN 'und'
       WHEN {hits['fr']} = {best} THEN 'fr'
       WHEN {hits['es']} = {best} THEN 'es'
       WHEN {hits['en']} = {best} THEN 'en'
       ELSE 'de' END AS lang_pred,
  round({p_ratio}, 6) AS punct_ratio,
  round({sw_ratio}, 6) AS stopword_ratio,
  round(((CASE WHEN len(text) >= 50 AND len(text) <= 100000 THEN 1.0 ELSE 0.0 END)
       + (CASE WHEN {p_ratio} < 0.2 THEN 1.0 ELSE 0.0 END)
       + (CASE WHEN {sw_ratio} > 0.05 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
FROM d JOIN tg USING (doc_id)
"""

    o["token_block_index"] = f"""
WITH {_D},
toks AS (
  SELECT doc_id,
         unnest(list_filter(list_distinct(toks),
                t -> NOT list_contains({_STOPLIST}, t))) AS key
  FROM d
)
SELECT key, count(*)::BIGINT AS block_count
FROM toks GROUP BY key
HAVING count(*) >= 2 AND count(*) < 1000
"""

    o["candidate_pairs_ngram"] = f"""
WITH {_D}, {_SHINGLES}, {_CAND_PAIRS}
SELECT id1, id2 FROM pairs
"""

    # merged pair-scoring oracle: Levenshtein + token-Jaccard +
    # trigram-Dice over the same candidate pairs (the three r1 oracles'
    # select expressions verbatim, one joined frame)
    o["pair_scores"] = f"""
WITH {_D}, {_SHINGLES}, {_CAND_PAIRS}, {_TOKSETS}, {_TRIGRAMS},
s AS (SELECT doc_id, substr(tn, 1, 60) AS t FROM d)
SELECT p.id1, p.id2,
  round(CASE WHEN greatest(len(s1.t), len(s2.t)) > 0
        THEN 1.0 - levenshtein(s1.t, s2.t) / greatest(len(s1.t), len(s2.t))
        ELSE 0.0 END, 6) AS lev_sim,
  round({_JACCARD}, 6) AS jaccard,
  round({_DICE}, 6) AS dice
FROM pairs p
JOIN s s1 ON p.id1 = s1.doc_id JOIN s s2 ON p.id2 = s2.doc_id
JOIN ts t1 ON p.id1 = t1.doc_id JOIN ts t2 ON p.id2 = t2.doc_id
JOIN tg g1 ON p.id1 = g1.doc_id JOIN tg g2 ON p.id2 = g2.doc_id
"""

    o["jaro_winkler_pairs"] = f"""
WITH {_D}, {_SHINGLES}, {_CAND_PAIRS},
s AS (SELECT doc_id, substr(tn, 1, 60) AS t FROM d)
SELECT p.id1, p.id2,
  round(CASE WHEN len(s1.t) = 0 OR len(s2.t) = 0 THEN 0.0
        ELSE jaro_winkler_similarity(s1.t, s2.t) END, 6) AS jw
FROM pairs p JOIN s s1 ON p.id1 = s1.doc_id JOIN s s2 ON p.id2 = s2.doc_id
WHERE (p.id1 + p.id2) % 7 = 0
"""

    o["matched_pairs"] = _scored_pairs_sql() + "SELECT id1, id2, round(sim, 6) AS sim FROM matched"

    o["tfidf_cosine_pairs"] = f"""
WITH {_D}, {_SHINGLES}, {_CAND_PAIRS},
tc AS (
  SELECT doc_id AS id, t.term, count(*) AS tf
  FROM d, unnest(toks) AS t(term)
  GROUP BY doc_id, t.term
),
nn AS (SELECT count(*) AS n_docs FROM d),
dfq AS (SELECT term, count(*) AS dfreq FROM tc GROUP BY term),
w AS (
  SELECT tc.id, tc.term,
         tc.tf * (ln((1.0 + nn.n_docs) / (1.0 + dfq.dfreq)) + 1.0) AS w
  FROM tc JOIN dfq USING (term) CROSS JOIN nn
),
norms AS (SELECT id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY id),
dots AS (
  SELECT p.id1, p.id2, sum(w1.w * w2.w) AS dot
  FROM pairs p
  JOIN w w1 ON p.id1 = w1.id
  JOIN w w2 ON p.id2 = w2.id AND w1.term = w2.term
  GROUP BY p.id1, p.id2
)
SELECT p.id1, p.id2,
  round(CASE WHEN n1.nrm > 0 AND n2.nrm > 0
        THEN coalesce(dots.dot, 0.0) / (n1.nrm * n2.nrm) ELSE 0.0 END, 6) AS cosine
FROM pairs p
LEFT JOIN dots ON p.id1 = dots.id1 AND p.id2 = dots.id2
JOIN norms n1 ON p.id1 = n1.id
JOIN norms n2 ON p.id2 = n2.id
"""

    o["threshold_sweep"] = (
        _scored_pairs_sql()
        + """
SELECT t.theta, count(*)::BIGINT AS n_matched
FROM scored CROSS JOIN (VALUES (0.5), (0.6), (0.7), (0.8)) t(theta)
WHERE sim > t.theta GROUP BY t.theta
"""
    )

    o["sorted_neighborhood_pairs"] = f"""
WITH {_D},
sn AS (
  SELECT doc_id,
         array_to_string(list_slice(list_sort(list_filter(list_distinct(toks),
                t -> NOT list_contains({_STOPLIST}, t))), 1, 2), ' ') AS key
  FROM d
),
snk AS (SELECT * FROM sn WHERE len(key) > 0),
ok AS (
  SELECT key FROM snk GROUP BY key
  HAVING count(*) >= 2 AND count(*) < 1000
),
kk AS (SELECT snk.doc_id, snk.key FROM snk JOIN ok USING (key))
SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
FROM kk a JOIN kk b USING (key) WHERE a.doc_id < b.doc_id
"""

    o["connected_components"] = (
        _components_sql() + "SELECT id, component_id FROM comp"
    )

    o["cluster_representatives"] = (
        _components_sql()
        + """
SELECT component_id, min(id) AS representative, count(*)::BIGINT AS cluster_size
FROM comp GROUP BY component_id HAVING count(*) >= 2
"""
    )

    o["pairwise_f1"] = (
        _scored_pairs_sql()
        + """
, gold AS (
  SELECT p.id1, p.id2 FROM pairs p
  JOIN ts t1 ON p.id1 = t1.doc_id JOIN ts t2 ON p.id2 = t2.doc_id
  WHERE """
        + _JACCARD
        + """ >= 0.5
),
cnt AS (
  SELECT
    (SELECT count(*) FROM matched m JOIN gold g ON m.id1 = g.id1 AND m.id2 = g.id2) AS tp,
    (SELECT count(*) FROM matched) AS n_pred,
    (SELECT count(*) FROM gold) AS n_gold
)
SELECT tp::BIGINT AS tp, n_pred::BIGINT AS n_pred, n_gold::BIGINT AS n_gold,
  round(CASE WHEN n_pred > 0 THEN tp / n_pred ELSE 0.0 END, 6) AS precision,
  round(CASE WHEN n_gold > 0 THEN tp / n_gold ELSE 0.0 END, 6) AS recall,
  round(CASE WHEN (CASE WHEN n_pred > 0 THEN tp / n_pred ELSE 0.0 END)
             + (CASE WHEN n_gold > 0 THEN tp / n_gold ELSE 0.0 END) > 0
        THEN 2.0 * (CASE WHEN n_pred > 0 THEN tp / n_pred ELSE 0.0 END)
             * (CASE WHEN n_gold > 0 THEN tp / n_gold ELSE 0.0 END)
             / ((CASE WHEN n_pred > 0 THEN tp / n_pred ELSE 0.0 END)
                + (CASE WHEN n_gold > 0 THEN tp / n_gold ELSE 0.0 END))
        ELSE 0.0 END, 6) AS f1
FROM cnt
"""
    )

    o["dedup_exact"] = f"""
WITH h AS (SELECT doc_id, md5({_NORM}) AS ch FROM documents)
SELECT min(doc_id) AS doc_id FROM h GROUP BY ch
"""

    sig_cols = ",\n  ".join(
        f"min(md5('{i}:' || shingle)) AS sig_{i}" for i in range(MINHASH_K)
    )

    band_eqs = []
    rows_per_band = MINHASH_K // MINHASH_BANDS
    for b in range(MINHASH_BANDS):
        cols = [f"sig_{b * rows_per_band + r}" for r in range(rows_per_band)]
        l = " || '|' || ".join(f"a.{c}" for c in cols)
        r = " || '|' || ".join(f"b.{c}" for c in cols)
        band_eqs.append(f"({l}) = ({r})")
    o["minhash_near_dups"] = f"""
WITH {_D}, {_SHINGLES},
post AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
sig AS (
  SELECT doc_id AS id, {sig_cols}
  FROM post GROUP BY doc_id
),
cand AS (
  SELECT a.id AS id1, b.id AS id2
  FROM sig a JOIN sig b ON a.id < b.id
  WHERE {" OR ".join(band_eqs)}
)
SELECT c.id1, c.id2,
  round(CASE WHEN len(list_distinct(list_concat(s1.sh, s2.sh))) > 0
        THEN len(list_intersect(s1.sh, s2.sh))
             / len(list_distinct(list_concat(s1.sh, s2.sh)))
        ELSE 0.0 END, 6) AS jaccard
FROM cand c JOIN sh s1 ON c.id1 = s1.doc_id JOIN sh s2 ON c.id2 = s2.doc_id
WHERE CASE WHEN len(list_distinct(list_concat(s1.sh, s2.sh))) > 0
      THEN round(len(list_intersect(s1.sh, s2.sh))
           / len(list_distinct(list_concat(s1.sh, s2.sh))), 6)
      ELSE 0.0 END >= {MINHASH_THETA}
"""

    # streaming near-dup batch twin: bipartite banding (new ≥ 400 vs
    # corpus < 400) — signatures identical to the self-join oracle's
    o["stream_near_dups"] = f"""
WITH {_D}, {_SHINGLES},
post AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
sig AS (
  SELECT doc_id AS id, {sig_cols}
  FROM post GROUP BY doc_id
),
cand AS (
  SELECT a.id AS new_id, b.id AS corpus_id
  FROM sig a JOIN sig b ON a.id >= 400 AND b.id < 400
  WHERE {" OR ".join(band_eqs)}
)
SELECT c.new_id, c.corpus_id,
  round(CASE WHEN len(list_distinct(list_concat(s1.sh, s2.sh))) > 0
        THEN len(list_intersect(s1.sh, s2.sh))
             / len(list_distinct(list_concat(s1.sh, s2.sh)))
        ELSE 0.0 END, 6) AS jaccard
FROM cand c JOIN sh s1 ON c.new_id = s1.doc_id JOIN sh s2 ON c.corpus_id = s2.doc_id
WHERE CASE WHEN len(list_distinct(list_concat(s1.sh, s2.sh))) > 0
      THEN round(len(list_intersect(s1.sh, s2.sh))
           / len(list_distinct(list_concat(s1.sh, s2.sh))), 6)
      ELSE 0.0 END >= {MINHASH_THETA}
"""

    # near-dup dedup: minhash pairs → recursive min-label components →
    # drop non-representatives
    band_eqs_nd = " OR ".join(band_eqs)
    o["dedup_documents_near"] = f"""
WITH RECURSIVE {_D}, {_SHINGLES},
post AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
sig AS (
  SELECT doc_id AS id, {sig_cols}
  FROM post GROUP BY doc_id
),
cand AS (
  SELECT a.id AS id1, b.id AS id2
  FROM sig a JOIN sig b ON a.id < b.id
  WHERE {band_eqs_nd}
),
dup AS (
  SELECT c.id1, c.id2
  FROM cand c JOIN sh s1 ON c.id1 = s1.doc_id JOIN sh s2 ON c.id2 = s2.doc_id
  WHERE CASE WHEN len(list_distinct(list_concat(s1.sh, s2.sh))) > 0
        THEN round(len(list_intersect(s1.sh, s2.sh))
             / len(list_distinct(list_concat(s1.sh, s2.sh))), 6)
        ELSE 0.0 END >= {MINHASH_THETA}
),
sym AS (SELECT id1 AS src, id2 AS dst FROM dup UNION SELECT id2, id1 FROM dup),
nodes AS (SELECT DISTINCT src AS id FROM sym),
reach AS (
  SELECT id, id AS r FROM nodes
  UNION
  SELECT reach.id, sym.dst FROM reach JOIN sym ON reach.r = sym.src
),
comp AS (SELECT id, min(r) AS component_id FROM reach GROUP BY id),
dropped AS (SELECT id AS doc_id FROM comp WHERE id <> component_id)
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
"""

    o["lang_length_quantiles"] = """
SELECT lang,
  round(quantile_cont(n_chars, 0.25), 6) AS p25,
  round(quantile_cont(n_chars, 0.50), 6) AS p50,
  round(quantile_cont(n_chars, 0.75), 6) AS p75,
  count(*)::BIGINT AS n_docs
FROM documents GROUP BY lang
"""


    high = "('8','9','a','b','c','d','e','f')"
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(dtoks, "
        f"t -> CASE WHEN substr(md5(t), {j + 1}, 1) IN {high} THEN 1 ELSE -1 END)) > 0 "
        f"THEN {2**j} ELSE 0 END)"
        for j in range(16)
    )
    _simhash_cte = f"""
dt AS (SELECT doc_id, list_distinct(toks) AS dtoks FROM d),
shh AS (SELECT doc_id, ({bit_terms})::BIGINT AS sh FROM dt)
"""
    # merged sketch oracle: MinHash signature columns + 16-bit SimHash
    # per doc (the r2 `minhash_signatures` and `simhash` oracle bodies,
    # joined on doc_id)
    o["doc_sketches"] = f"""
WITH {_D}, {_SHINGLES},
post AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
sig AS (
  SELECT doc_id, {sig_cols}
  FROM post GROUP BY doc_id
),
{_simhash_cte}
SELECT sig.doc_id, {", ".join(f"sig.sig_{i}" for i in range(MINHASH_K))}, shh.sh
FROM sig JOIN shh USING (doc_id)
"""

    o["simhash_near_dups"] = f"""
WITH {_D}, {_simhash_cte}
SELECT a.doc_id AS id1, b.doc_id AS id2,
       bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
FROM shh a JOIN shh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""

    o["ngram_jaccard_dups"] = f"""
WITH {_D}, {_SHINGLES},
post AS (SELECT doc_id, unnest(sh) AS key FROM sh),
ok AS (
  SELECT key FROM post GROUP BY key
  HAVING count(*) > 1 AND count(*) <= 1000
),
kp AS (SELECT post.doc_id, post.key FROM post JOIN ok USING (key)),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM kp a JOIN kp b USING (key) WHERE a.doc_id < b.doc_id
)
SELECT c.id1, c.id2,
  round(CASE WHEN len(list_distinct(list_concat(s1.sh, s2.sh))) > 0
        THEN len(list_intersect(s1.sh, s2.sh))
             / len(list_distinct(list_concat(s1.sh, s2.sh)))
        ELSE 0.0 END, 6) AS jaccard
FROM cand c JOIN sh s1 ON c.id1 = s1.doc_id JOIN sh s2 ON c.id2 = s2.doc_id
WHERE CASE WHEN len(list_distinct(list_concat(s1.sh, s2.sh))) > 0
      THEN round(len(list_intersect(s1.sh, s2.sh))
           / len(list_distinct(list_concat(s1.sh, s2.sh))), 6)
      ELSE 0.0 END >= {NGRAM_JACCARD_THETA}
"""

    o["prefix_jaccard_dups"] = f"""
WITH {_D}, {_SHINGLES},
post AS (SELECT doc_id, unnest(sh) AS key FROM sh),
freq AS (SELECT key, count(*) AS freq FROM post GROUP BY key),
ranked AS (
  SELECT post.doc_id, post.key,
         row_number() OVER (PARTITION BY post.doc_id ORDER BY freq.freq, post.key) AS rn,
         count(*) OVER (PARTITION BY post.doc_id) AS sz
  FROM post JOIN freq USING (key)
),
prefix AS (SELECT doc_id, key FROM ranked WHERE rn <= floor((1.0 - 0.3) * sz) + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM prefix a JOIN prefix b USING (key)
  WHERE a.doc_id < b.doc_id
)
SELECT c.id1, c.id2,
  round(CASE WHEN len(list_distinct(list_concat(s1.sh, s2.sh))) > 0
        THEN len(list_intersect(s1.sh, s2.sh))
             / len(list_distinct(list_concat(s1.sh, s2.sh)))
        ELSE 0.0 END, 6) AS jaccard
FROM cand c JOIN sh s1 ON c.id1 = s1.doc_id JOIN sh s2 ON c.id2 = s2.doc_id
WHERE CASE WHEN len(list_distinct(list_concat(s1.sh, s2.sh))) > 0
      THEN round(len(list_intersect(s1.sh, s2.sh))
           / len(list_distinct(list_concat(s1.sh, s2.sh))), 6)
      ELSE 0.0 END >= 0.3
"""

    o["edit_distance_join"] = f"""
WITH {_D},
s AS (SELECT doc_id, substr(tn, 1, 40) AS t FROM d)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       levenshtein(a.t, b.t)::BIGINT AS lev
FROM s a JOIN s b
  ON a.doc_id < b.doc_id AND abs(len(a.t) - len(b.t)) <= 8
WHERE levenshtein(a.t, b.t) <= 8
"""

    _ann_brute_sql = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    round(CASE WHEN sqrt(list_sum(list_transform(q.qv, x -> x * x)))
             * sqrt(list_sum(list_transform(e.v, x -> x * x))) > 0
      THEN list_dot_product(q.qv, e.v)
           / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
              * sqrt(list_sum(list_transform(e.v, x -> x * x))))
      ELSE 0.0 END, 6) AS score
  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, rank, score FROM (
  SELECT query_id, neighbor_id, score,
    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC)::BIGINT AS rank
  FROM scored
) WHERE rank <= 5
"""

    o["rollup_counts"] = """
SELECT lang, source, count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS total_chars
FROM documents GROUP BY ROLLUP (lang, source)
"""

    o["asof_join"] = """
FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase') l
ASOF JOIN (SELECT user_id, ts AS ts_asof, value AS vv FROM events WHERE event_type = 'view') r
  ON l.user_id = r.user_id AND l.ts >= r.ts_asof
SELECT l.event_id, l.user_id, l.ts,
       round(r.vv, 6) AS view_value_asof, r.ts_asof
"""

    o["events_windowed"] = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*)::BIGINT AS n_events, round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2
"""

    o["sessionize"] = """
WITH brk AS (
  SELECT user_id, ts,
    CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
              > 1800
         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
    THEN 1 ELSE 0 END AS brk
  FROM events
),
sess AS (
  SELECT user_id, ts,
    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM brk
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*)::BIGINT AS n_events
FROM sess GROUP BY user_id, session_id
"""

    # -- hyperplane-LSH ANN: the oracle re-derives the md5-seeded plane
    # matrix independently in SQL (similarity_search.plane_component is
    # the same public formula evaluated with hashlib on the driver) ----
    _ann_lsh_sql = f"""
WITH {_lsh_bucket_cte(num_tables=4, num_planes=8)},
qb AS (SELECT vec_id AS query_id, tbl, bucket FROM buck WHERE vec_id < 3),
cands AS (
  SELECT DISTINCT qb.query_id, cb.vec_id AS neighbor_id
  FROM buck cb JOIN qb USING (tbl, bucket)
  WHERE cb.vec_id <> qb.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id, round({_cos_sql('q.v', 'n.v')}, 6) AS score
  FROM cands c
  JOIN e q ON c.query_id = q.vec_id
  JOIN e n ON c.neighbor_id = n.vec_id
)
SELECT query_id, neighbor_id, rank, score FROM (
  SELECT query_id, neighbor_id, score,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, neighbor_id ASC)::BIGINT AS rank
  FROM scored
) WHERE rank <= 5
"""

    o["embedding_near_dups"] = f"""
WITH {_lsh_bucket_cte(num_tables=6, num_planes=10)},
pairs AS (
  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
  FROM buck a JOIN buck b USING (tbl, bucket)
  WHERE a.vec_id < b.vec_id
),
scored AS (
  SELECT p.id1, p.id2, round({_cos_sql('e1.v', 'e2.v')}, 6) AS score
  FROM pairs p
  JOIN e e1 ON p.id1 = e1.vec_id
  JOIN e e2 ON p.id2 = e2.vec_id
)
SELECT id1, id2, score FROM scored WHERE score >= 0.4
"""

    # -- ANN recall@k metric: LSH top-k vs exact top-k ------------------
    o["ann_recall"] = f"""
WITH {_lsh_bucket_cte(num_tables=4, num_planes=8)},
qb AS (SELECT vec_id AS query_id, tbl, bucket FROM buck WHERE vec_id < 3),
cands AS (
  SELECT DISTINCT qb.query_id, cb.vec_id AS neighbor_id
  FROM buck cb JOIN qb USING (tbl, bucket)
  WHERE cb.vec_id <> qb.query_id
),
lsh_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT c.query_id, c.neighbor_id,
      row_number() OVER (PARTITION BY c.query_id
                         ORDER BY round({_cos_sql('q.v', 'n.v')}, 6) DESC,
                                  c.neighbor_id ASC) AS rank
    FROM cands c
    JOIN e q ON c.query_id = q.vec_id
    JOIN e n ON c.neighbor_id = n.vec_id
  ) WHERE rank <= 5
),
exact_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY round({_cos_sql('q.v', 'n.v')}, 6) DESC,
                                  n.vec_id ASC) AS rank
    FROM (SELECT vec_id, v FROM e WHERE vec_id < 3) q
    CROSS JOIN e n WHERE n.vec_id <> q.vec_id
  ) WHERE rank <= 5
),
hit AS (SELECT * FROM exact_top SEMI JOIN lsh_top USING (query_id, neighbor_id))
SELECT (SELECT count(*) FROM exact_top)::BIGINT AS n_exact,
       (SELECT count(*) FROM hit)::BIGINT AS n_hit,
       round((SELECT count(*) FROM hit) * 1.0
             / (SELECT count(*) FROM exact_top), 6) AS recall_at_k
"""

    # -- video frame sampling: kind cycles image/audio/video by id % 3;
    # payload is always 1024 bytes (repeat(md5, 32)), so the sampled
    # index sequence is 0..min(30, 10)..step 10 = [0, 10] per video ----
    o["frame_samples"] = """
WITH m AS (SELECT t.i AS media_id FROM range(64) t(i) WHERE t.i % 3 = 2)
SELECT media_id,
       (u.idx // 10)::BIGINT AS frame_pos,
       u.idx::BIGINT AS frame_index
FROM m, unnest(generate_series(0, least(30, (floor(1024 / 1000.0)::BIGINT) * 10), 10)) u(idx)
"""

    # -- IVF ANN: seeds + two Lloyd rounds unrolled in SQL; centroids
    # rounded to 6 dp and cosines to 9 dp on BOTH sides so FP summation
    # order cannot flip an argmax (similarity_search.SIM_DIGITS) --------
    _ann_ivf_sql = _ivf_oracle_sql(
        num_cells=8, nprobe=3, k=5, lloyd_rounds=2, query_pred="vec_id < 3"
    )

    # merged ANN oracle: the three method oracles verbatim, each as a
    # tagged subquery branch (DuckDB allows WITH inside a parenthesized
    # derived table)
    o["ann_methods"] = f"""
SELECT 'brute' AS method, query_id, neighbor_id, rank, score
FROM ({_ann_brute_sql})
UNION ALL
SELECT 'lsh' AS method, query_id, neighbor_id, rank, score
FROM ({_ann_lsh_sql})
UNION ALL
SELECT 'ivf' AS method, query_id, neighbor_id, rank, score
FROM ({_ann_ivf_sql})
"""

    # -- multimodal REAL decode: even ids are 8x8 24bpp BMPs whose pixel
    # area is the ASCII bytes of repeat(md5(id), 6) (192 bytes, stride
    # 24, no padding); odd ids are mono PCM16 WAVs with
    # s[i] = (id*31 + i*2654435761) % 65536 - 32768.  The oracle
    # recomputes the expected 8-bin histograms from those construction
    # formulas; Spark parses the actual container bytes.  Denominators
    # 192 and 64 keep round(·, 6) stable across float32/float64 (the
    # fractional 10^-6 digit is always 0/.33/.66 — far from a rounding
    # boundary relative to float32 quantization).
    bins_img = ",\n  ".join(
        f"round(len(list_filter(bs, x -> x = {i})) * 1.0 / 192, 6) AS f{i}"
        for i in range(8)
    )
    bins_aud = ",\n  ".join(
        f"round(len(list_filter(bs, x -> x = {i})) * 1.0 / 64, 6) AS f{i}"
        for i in range(8)
    )
    o["media_features_real"] = f"""
WITH img AS (
  SELECT t.i AS media_id, 'image' AS kind, 8 AS width, 8 AS height,
         list_transform(range(1, 193),
             j -> ascii(substr(repeat(md5(t.i::VARCHAR), 6), j::INTEGER, 1)) // 32) AS bs
  FROM range(64) t(i) WHERE t.i % 2 = 0
),
aud AS (
  SELECT t.i AS media_id, 'audio' AS kind, 64 AS width, 1 AS height,
         list_transform(range(0, 64),
             i -> ((t.i * 31 + i * 2654435761) % 65536) // 8192) AS bs
  FROM range(64) t(i) WHERE t.i % 2 = 1
)
SELECT media_id, kind, width::INTEGER AS width, height::INTEGER AS height,
  {bins_img}
FROM img
UNION ALL
SELECT media_id, kind, width::INTEGER AS width, height::INTEGER AS height,
  {bins_aud}
FROM aud
"""

    # -- corpus curation (operators/corpus.py).  Sampling decisions use
    # the md5-bucket bridge (('0x' || substr(md5(...), 1, 8))::BIGINT —
    # the only hash both engines compute identically); token streams are
    # the RAW text split on whitespace (no normalization) -----------------
    o["stratified_sample"] = """
SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5('strat' || doc_id::VARCHAR), 1, 8))::BIGINT % 1000000
      < CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 200000 ELSE 100000 END
"""

    # rank order is bucket-first (mirrors the operator, whose
    # prefilter_rate scale path relies on bucket-prefix containment)
    o["exact_k_sample"] = """
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substr(md5('topk' || doc_id::VARCHAR), 1, 8))::BIGINT % 1000000,
                    md5('topk' || doc_id::VARCHAR), doc_id) AS rk
  FROM documents
)
SELECT doc_id, lang FROM ranked WHERE rk <= 5
"""

    o["repetition_stats"] = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS toks
  FROM documents
)
SELECT doc_id,
  len(toks)::BIGINT AS n_words,
  round(CASE WHEN len(toks) > 0
        THEN 1.0 - len(list_distinct(toks)) * 1.0 / len(toks)
        ELSE 0.0 END, 6) AS dup_word_frac,
  round(CASE WHEN len(toks) > 0
        THEN list_max(list_transform(list_distinct(toks),
               d -> len(list_filter(toks, x -> x = d)))) * 1.0 / len(toks)
        ELSE 0.0 END, 6) AS top_word_frac
FROM t
"""

    o["c4_gate"] = rf"""
WITH t AS (
  SELECT doc_id, length(text) AS n_chars_text,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS toks
  FROM documents
),
m AS (
  SELECT doc_id, n_chars_text, len(toks) AS n_words,
    CASE WHEN len(toks) > 0
         THEN list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
         ELSE 0.0 END AS mwl,
    CASE WHEN len(toks) > 0
         THEN len(list_filter(toks, x -> list_contains({_STOPLIST}, x))) * 1.0 / len(toks)
         ELSE 0.0 END AS sf
  FROM t
)
SELECT doc_id, n_chars_text::BIGINT AS n_chars_text, n_words::BIGINT AS n_words,
  round(mwl, 6) AS mean_word_len,
  round(sf, 6) AS stopword_frac,
  (n_chars_text BETWEEN 50 AND 100000) AS len_ok,
  (n_words >= 10) AS words_ok,
  (mwl BETWEEN 3.0 AND 10.0) AS mwl_ok,
  (sf >= 0.05) AS stop_ok,
  ((n_chars_text BETWEEN 50 AND 100000) AND n_words >= 10
   AND (mwl BETWEEN 3.0 AND 10.0) AND sf >= 0.05) AS keep
FROM m
"""

    o["source_stats"] = """
SELECT source,
  count(*)::BIGINT AS n_docs,
  sum(length(text))::BIGINT AS total_chars,
  round(avg(length(text)), 6) AS mean_chars,
  count(DISTINCT lang)::BIGINT AS n_langs
FROM documents GROUP BY source
"""

    o["paragraph_dedup"] = """
WITH p AS (
  SELECT d.doc_id AS id, t.i - 1 AS pos, d.paras[t.i] AS para
  FROM (SELECT doc_id, string_split(text, ' ') AS paras
        FROM documents WHERE doc_id < 100) d,
       unnest(range(1, len(d.paras) + 1)) t(i)
  WHERE length(trim(d.paras[t.i])) > 0
),
k AS (
  SELECT id, pos, para,
         row_number() OVER (PARTITION BY md5(para) ORDER BY id, pos) = 1 AS keep
  FROM p
),
agg AS (
  SELECT id,
    coalesce(string_agg(para, ' ' ORDER BY pos) FILTER (WHERE keep), '') AS text,
    count(*)::BIGINT AS n_paras,
    count(*) FILTER (WHERE NOT keep)::BIGINT AS n_dropped
  FROM k GROUP BY id
)
SELECT d0.doc_id,
  coalesce(agg.text, '') AS text,
  coalesce(agg.n_paras, 0)::BIGINT AS n_paras,
  coalesce(agg.n_dropped, 0)::BIGINT AS n_dropped
FROM (SELECT doc_id FROM documents WHERE doc_id < 100) d0
LEFT JOIN agg ON agg.id = d0.doc_id
"""

    o["token_budget_sample"] = r"""
WITH t AS (
  SELECT doc_id, lang,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> x != ''))::BIGINT AS n_tokens,
         ('0x' || substr(md5('budget' || doc_id::VARCHAR), 1, 8))::BIGINT % 1000000 AS bkt,
         md5('budget' || doc_id::VARCHAR) AS h
  FROM documents
),
c AS (
  SELECT doc_id, lang, n_tokens,
         sum(n_tokens) OVER (
           PARTITION BY lang ORDER BY bkt, h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM t
)
SELECT doc_id, lang, n_tokens, cum_tokens::BIGINT AS cum_tokens
FROM c WHERE cum_tokens <= 2000
"""

    o["shingle_overlap"] = f"""
WITH {_D}, {_SHINGLES},
e AS (
  SELECT sh.doc_id, md5(u.s) AS h
  FROM sh, unnest(sh.sh) u(s)
),
c AS (SELECT h, count(DISTINCT doc_id) AS n_docs FROM e GROUP BY h)
SELECT e.doc_id,
  count(*)::BIGINT AS n_shingles,
  sum(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
  round(CASE WHEN count(*) > 0
        THEN sum(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END) * 1.0 / count(*)
        ELSE 0.0 END, 6) AS shared_frac
FROM e JOIN c USING (h) GROUP BY e.doc_id
"""

    # bag-of-shingles decontamination oracle: registered under the Bloom
    # scale path's name (the exact-join twin produces identical output
    # by construction and is pinned to it by the equality pytest)
    o["contamination_bloom"] = f"""
WITH {_D}, {_SHINGLES},
e AS (
  SELECT sh.doc_id, md5(u.s) AS h, src.source
  FROM sh JOIN (SELECT doc_id, source FROM documents) src USING (doc_id),
       unnest(sh.sh) u(s)
),
bench AS (SELECT DISTINCT h FROM e WHERE source = 'src0'),
hits AS (
  SELECT doc_id, count(DISTINCT h) AS n_hits
  FROM e JOIN bench USING (h) WHERE source != 'src0' GROUP BY doc_id
)
SELECT d.doc_id,
  coalesce(hits.n_hits, 0)::BIGINT AS n_hits,
  coalesce(hits.n_hits, 0) >= 1 AS contaminated
FROM (SELECT doc_id FROM documents WHERE source != 'src0') d
LEFT JOIN hits USING (doc_id)
"""

    o["contamination_spans"] = f"""
WITH {_D},
src AS (SELECT doc_id, source FROM documents),
bench AS (
  SELECT DISTINCT md5(array_to_string(list_slice(d.toks, t.i, t.i + 2), ' ')) AS h
  FROM (SELECT d.doc_id, d.toks FROM d JOIN src USING (doc_id)
        WHERE src.source = 'src0') d,
       unnest(range(1, greatest(len(d.toks) - 1, 1))) t(i)
),
tr AS (
  SELECT d.doc_id, t.i - 1 AS pos,
         md5(array_to_string(list_slice(d.toks, t.i, t.i + 2), ' ')) AS h
  FROM (SELECT d.doc_id, d.toks FROM d JOIN src USING (doc_id)
        WHERE src.source != 'src0') d,
       unnest(range(1, greatest(len(d.toks) - 1, 1))) t(i)
),
hits AS (SELECT tr.doc_id, tr.pos FROM tr JOIN bench USING (h)),
runs AS (
  SELECT doc_id,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
),
per_run AS (SELECT doc_id, grp, count(*) AS run FROM runs GROUP BY doc_id, grp),
agg AS (
  SELECT doc_id, sum(run) AS n_hit_positions, max(run) AS max_hit_run
  FROM per_run GROUP BY doc_id
)
SELECT t0.doc_id,
  coalesce(agg.n_hit_positions, 0)::BIGINT AS n_hit_positions,
  coalesce(agg.max_hit_run, 0)::BIGINT AS max_hit_run,
  coalesce(agg.max_hit_run, 0) >= 2 AS contaminated
FROM (SELECT doc_id FROM documents WHERE source != 'src0') t0
LEFT JOIN agg USING (doc_id)
"""

    o["dup_ngram_stats"] = f"""
WITH {_D},
mass AS (SELECT doc_id, len(array_to_string(toks, ' ')) AS m FROM d),
grams AS (
  SELECT d.doc_id, n.n,
         array_to_string(list_slice(d.toks, i.i, i.i + n.n - 1), ' ') AS g
  FROM d, (VALUES (2), (5)) n(n),
       unnest(range(1, greatest(len(d.toks) - n.n + 2, 1))) i(i)
),
per AS (
  SELECT doc_id, n, g, count(*) AS c, len(g) AS l
  FROM grams GROUP BY doc_id, n, g
),
agg AS (
  SELECT doc_id, n, max(c * l) AS top_chars,
         sum(CASE WHEN c >= 2 THEN c * l ELSE 0 END) AS dup_chars
  FROM per GROUP BY doc_id, n
)
SELECT m.doc_id, n.n::INT AS n,
  round(CASE WHEN m.m > 0
        THEN coalesce(agg.top_chars, 0)::DOUBLE / m.m ELSE 0 END, 6)
    AS top_ngram_char_frac,
  round(CASE WHEN m.m > 0
        THEN coalesce(agg.dup_chars, 0)::DOUBLE / m.m ELSE 0 END, 6)
    AS dup_ngram_char_frac
FROM mass m
CROSS JOIN (VALUES (2), (5)) n(n)
LEFT JOIN agg ON agg.doc_id = m.doc_id AND agg.n = n.n
"""

    from entity_resolution_pipeline_spark.operators.scrub import PII_RULES

    # counts mirror the operator exactly: kind k is counted on the
    # string with replacements 0..k-1 already applied (sequential
    # semantics — n_<kind> == sentinels emitted, ADVICE r4)
    _pii_count_exprs = []
    _pii_scrubbed = "text"
    for kind, pat, repl in PII_RULES:
        _pii_count_exprs.append(
            f"len(regexp_extract_all({_pii_scrubbed}, '{pat}', 0))::BIGINT AS n_{kind}"
        )
        _pii_scrubbed = f"regexp_replace({_pii_scrubbed}, '{pat}', '{repl}', 'g')"
    _pii_counts = ",\n  ".join(_pii_count_exprs)
    _pii_total = " + ".join(f"n_{kind}" for kind, _, _ in PII_RULES)
    o["pii_scrub"] = f"""
WITH t AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 7 = 0
                      THEN ' contact ops-7@example.com or 10.1.2.34'
                      WHEN doc_id % 11 = 3
                      THEN ' call +44 20 7946 0958 now'
                      WHEN doc_id % 13 = 5
                      THEN ' node fe80:0db8:85a3:1:2:8a2e:370:7334 up'
                      WHEN doc_id % 17 = 2
                      THEN ' pay DE89370400440532013000 today'
                      WHEN doc_id % 19 = 7
                      THEN ' ssn 123-45-6789 leaked'
                      ELSE '' END AS text
  FROM documents
),
c AS (
  SELECT doc_id,
  {_pii_counts},
  {_pii_scrubbed} AS scrubbed
  FROM t
)
SELECT *, ({_pii_total})::BIGINT AS n_pii FROM c
"""

    from entity_resolution_pipeline_spark.operators.weburl import (
        _PSL2,
        _PSL3,
        SECOND_LEVEL_SUFFIXES,
    )

    # registered_domain twin generated from the SAME snapshot tuples the
    # Spark operator compiles to an InSet — one source of truth
    _psl2_sql = ", ".join(f"'{s}'" for s in _PSL2)
    _psl3_sql = ", ".join(f"'{s}'" for s in _PSL3)
    _sls_sql = ", ".join(f"'{s}'" for s in SECOND_LEVEL_SUFFIXES)
    _regdom_sql = f"""
    CASE WHEN len(labels) <= 2 THEN host
         WHEN len(labels) >= 4
              AND array_to_string(labels[-3:], '.') IN ({_psl3_sql})
           THEN array_to_string(labels[-4:], '.')
         WHEN len(labels) >= 3
              AND (array_to_string(labels[-2:], '.') IN ({_psl2_sql})
                   OR (labels[-2] IN ({_sls_sql}) AND len(labels[-1]) = 2))
           THEN array_to_string(labels[-3:], '.')
         ELSE array_to_string(labels[-2:], '.') END"""

    _url_parts = f"""
t AS (SELECT doc_id, {_URL_SQL} AS url, text FROM documents),
p AS (
  SELECT doc_id, url, text,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    str_split(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://(.*)$', 1),
              '#')[1] AS nofrag
  FROM t
),
p2 AS (
  SELECT *, lower(regexp_extract(nofrag, '^([^/?]*)', 1)) AS authority,
         regexp_extract(nofrag, '^[^/?]*(.*)$', 1) AS pathquery
  FROM p
),
p3 AS (
  SELECT *,
    regexp_replace(regexp_replace(authority, ':\\d+$', ''), '^www\\.', '')
      AS host,
    regexp_extract(authority, ':(\\d+)$', 1) AS port,
    CASE WHEN regexp_extract(pathquery, '^([^?]*)', 1) = '' THEN '/'
         ELSE regexp_extract(pathquery, '^([^?]*)', 1) END AS path,
    regexp_extract(pathquery, '\\?(.*)$', 1) AS query
  FROM p2
),
p4 AS (
  SELECT *,
    array_to_string(list_sort(list_filter(str_split(query, '&'),
      x -> x <> '' AND NOT regexp_matches(x,
           '^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=|$)'))), '&') AS canon_q,
    CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
              AND NOT (scheme = 'https' AND port = '443')
         THEN ':' || port ELSE '' END AS portpart,
    str_split(host, '.') AS labels
  FROM p3
),
c AS (
  SELECT doc_id, url, text, host,
    CASE WHEN scheme <> ''
      THEN scheme || '://' || host || portpart || path
           || CASE WHEN canon_q <> '' THEN '?' || canon_q ELSE '' END
      ELSE url END AS canon_url,
    {_regdom_sql} AS registered_domain,
    len(list_filter(str_split(path, '/'), x -> x <> ''))::INT AS path_depth
  FROM p4
)"""

    o["url_canon"] = f"""
WITH {_url_parts}
SELECT doc_id, url, canon_url, host, registered_domain, path_depth FROM c
"""

    o["host_stats"] = f"""
WITH {_url_parts}
SELECT registered_domain,
  count(*)::BIGINT AS n_docs,
  count(DISTINCT host)::BIGINT AS n_hosts,
  count(DISTINCT md5(text))::BIGINT AS n_unique_texts,
  round(1.0 - count(DISTINCT md5(text))::DOUBLE / count(*), 6) AS dup_rate,
  round(avg(length(text)), 6) AS avg_chars
FROM c GROUP BY registered_domain
"""

    # C4 line filter — identical multi-line synthesis, then the line
    # rules (terminal punctuation, >=5 words, no 'javascript') and the
    # page kills (<3 kept lines, 'lorem ipsum', '{') in list HOFs
    o["c4_line_filter"] = r"""
WITH t AS (
  SELECT doc_id,
    replace(replace(text, ' batch ', '.' || chr(10)), ' join ', chr(10))
      || CASE doc_id % 7
           WHEN 0 THEN chr(10) || 'lorem ipsum'
           WHEN 1 THEN chr(10)
                || 'enable javascript to view this content today.'
           WHEN 2 THEN chr(10) || 'var x = {a: 1}'
           WHEN 3 THEN chr(10) || 'yes.'
           ELSE '' END AS text
  FROM documents
),
l AS (
  SELECT doc_id, text,
    list_filter(str_split(text, chr(10)), x -> trim(x) <> '') AS nonempty
  FROM t
),
k AS (
  SELECT doc_id, text, nonempty,
    list_filter(nonempty, x ->
      regexp_matches(trim(x), '[.!?"]$')
      AND len(list_filter(regexp_split_to_array(trim(x), '\s+'),
                          w -> w <> '')) >= 5
      AND NOT contains(lower(trim(x)), 'javascript')) AS kept
  FROM l
)
SELECT doc_id,
  coalesce(array_to_string(list_transform(kept, x -> trim(x)), chr(10)),
           '') AS text,
  len(nonempty)::INT AS n_lines,
  len(kept)::INT AS n_kept,
  (len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
   AND NOT contains(text, '{')) AS keep_page
FROM k
"""

    # per-domain boilerplate removal — identical synthesis (line breaks
    # + injected footers), then page counts / per-line distinct-page
    # counts per registered domain and the join-back rebuild
    o["boilerplate_lines"] = f"""
WITH {_url_parts},
b AS (
  SELECT c.doc_id, c.registered_domain AS dom,
    replace(d.text, ' batch ', chr(10))
      || chr(10) || 'copyright ' || d.source || ' all rights reserved'
      || CASE WHEN c.doc_id % 3 = 0
              THEN chr(10) || 'subscribe to our newsletter today'
              ELSE '' END AS text
  FROM c JOIN documents d ON d.doc_id = c.doc_id
),
occ AS (
  SELECT s.id, s.dom, t.i - 1 AS pos, trim(s.lines[t.i]) AS line
  FROM (SELECT doc_id AS id, dom, str_split(text, chr(10)) AS lines
        FROM b) s,
       unnest(range(1, len(s.lines) + 1)) t(i)
  WHERE trim(s.lines[t.i]) <> ''
),
pages AS (SELECT dom, count(*) AS np FROM b GROUP BY dom),
cnts AS (SELECT dom, md5(line) AS h, count(DISTINCT id) AS nd
         FROM occ GROUP BY dom, md5(line)),
boiler AS (
  SELECT cnts.dom, h FROM cnts JOIN pages USING (dom)
  WHERE nd >= 2 AND nd >= 0.3 * np
),
marked AS (
  SELECT o.id, o.pos, o.line, (bl.h IS NOT NULL) AS rm
  FROM occ o LEFT JOIN boiler bl
    ON bl.dom = o.dom AND bl.h = md5(o.line)
),
agg AS (
  SELECT id,
    coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT rm),
             '') AS text,
    count(*)::BIGINT AS n_lines,
    count(*) FILTER (WHERE rm)::BIGINT AS n_removed
  FROM marked GROUP BY id
)
SELECT b.doc_id, b.dom AS registered_domain,
  coalesce(agg.text, '') AS text,
  coalesce(agg.n_lines, 0)::BIGINT AS n_lines,
  coalesce(agg.n_removed, 0)::BIGINT AS n_removed
FROM b LEFT JOIN agg ON agg.id = b.doc_id
"""

    # crawl-snapshot dedup: newest capture per canonical URL, ties on
    # ts broken by max id; a NULL-URL capture is its own group (solo)
    o["latest_capture"] = f"""
WITH {_url_parts},
v AS (SELECT canon_url, (doc_id * 2654435761) % 1000000 AS ts,
             doc_id AS id,
             CASE WHEN canon_url IS NULL THEN doc_id END AS solo FROM c),
m AS (SELECT canon_url, solo, max(ts) AS ts, count(*)::BIGINT AS n_captures
      FROM v GROUP BY canon_url, solo)
SELECT m.canon_url, max(v.id)::BIGINT AS doc_id, m.ts, m.n_captures
FROM v JOIN m ON v.canon_url IS NOT DISTINCT FROM m.canon_url
             AND v.solo IS NOT DISTINCT FROM m.solo
             AND v.ts IS NOT DISTINCT FROM m.ts
GROUP BY m.canon_url, m.solo, m.ts, m.n_captures
"""

    # exact duplicate-span removal: positional 5-shingles, global
    # first occurrence per digest keeps its span, every other
    # occurrence's covered tokens are deleted (running-max interval
    # coverage per doc), text rebuilt from survivors
    o["dedup_spans"] = r"""
WITH t AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')
      AS toks
  FROM documents
),
tok AS (
  SELECT doc_id AS id, i.i - 1 AS pos, t.toks[i.i] AS tok
  FROM t, unnest(range(1, len(t.toks) + 1)) i(i)
),
occ AS (
  SELECT doc_id AS id, g.i - 1 AS pos,
         md5(array_to_string(t.toks[g.i : g.i + 4], ' ')) AS h
  FROM t, unnest(range(1, len(t.toks) - 3)) g(i)
  WHERE len(t.toks) >= 5
),
win AS (
  SELECT id, pos,
    row_number() OVER (PARTITION BY h ORDER BY id, pos) AS rn
  FROM occ
),
events AS (
  SELECT id, pos, 0 AS typ, pos + 4 AS e, NULL::VARCHAR AS tok
  FROM win WHERE rn > 1
  UNION ALL
  SELECT id, pos, 1 AS typ, NULL::BIGINT AS e, tok FROM tok
),
cov AS (
  SELECT id, pos, typ, tok,
    max(e) OVER (PARTITION BY id ORDER BY pos, typ
                 ROWS UNBOUNDED PRECEDING) AS cover
  FROM events
),
kt AS (
  SELECT id, pos, tok, coalesce(cover >= pos, FALSE) AS rm
  FROM cov WHERE typ = 1
),
agg AS (
  SELECT id,
    coalesce(string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE NOT rm),
             '') AS text,
    count(*)::BIGINT AS n_tokens,
    count(*) FILTER (WHERE rm)::BIGINT AS n_removed
  FROM kt GROUP BY id
)
SELECT d.doc_id,
  coalesce(agg.text, '') AS text,
  coalesce(agg.n_tokens, 0)::BIGINT AS n_tokens,
  coalesce(agg.n_removed, 0)::BIGINT AS n_removed
FROM documents d LEFT JOIN agg ON agg.id = d.doc_id
"""

    return o


# ---------------------------------------------------------------------------
# oracle SQL generators (LSH / IVF)
# ---------------------------------------------------------------------------


def _cos_sql(a: str, b: str) -> str:
    """Cosine-similarity SQL fragment over two DOUBLE[] expressions
    (zero-vector guarded, mirroring similarity_search.cosine_sim)."""
    na = f"sqrt(list_sum(list_transform({a}, x -> x * x)))"
    nb = f"sqrt(list_sum(list_transform({b}, x -> x * x)))"
    return (
        f"CASE WHEN {na} * {nb} > 0 "
        f"THEN list_dot_product({a}, {b}) / ({na} * {nb}) ELSE 0.0 END"
    )


def _lsh_bucket_cte(num_tables: int, num_planes: int) -> str:
    """CTE chain ending in ``buck(vec_id, tbl, bucket)``: the
    (table, sign-bit bucket) keys of every embedding under the
    md5-derived hyperplanes — the independent SQL derivation of
    ``similarity_search.plane_matrix``."""
    return f"""
dims AS (SELECT max(len(embedding)) AS dim FROM embeddings),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
planes AS (
  SELECT t.tbl, p.p,
         list_transform(range((SELECT dim FROM dims)),
           d -> ((('0x' || substr(md5('plane:' || t.tbl || ':' || p.p || ':' || d), 1, 8))::BIGINT
                  % 1000000) / 1000000.0 - 0.5)) AS pv
  FROM range({num_tables}) t(tbl) CROSS JOIN range({num_planes}) p(p)
),
proj AS (
  SELECT e.vec_id, pl.tbl, pl.p,
         list_sum(list_transform(range((SELECT dim FROM dims)),
                                 d -> e.v[d + 1] * pl.pv[d + 1])) AS proj
  FROM e CROSS JOIN planes pl
),
buck AS (
  SELECT vec_id, tbl::INTEGER AS tbl,
         sum(CASE WHEN proj > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
  FROM proj GROUP BY vec_id, tbl
)"""


def _ivf_oracle_sql(
    num_cells: int, nprobe: int, k: int, lloyd_rounds: int, query_pred: str
) -> str:
    """Full IVF top-k oracle: md5-ordered seeds, ``lloyd_rounds``
    unrolled assign+means rounds (means rounded to 6 dp, sims to 9 dp,
    argmax ties → larger cell — exactly similarity_search.ivf_topk),
    then nprobe cell probing, candidate dedup, cosine scoring, rank."""
    parts = [
        "WITH dims AS (SELECT max(len(embedding)) AS dim FROM embeddings)",
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""c0 AS (
  SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1)::BIGINT AS cell, v AS cv
  FROM e QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) <= {num_cells}
)""",
    ]
    prev = "c0"
    for r in range(1, lloyd_rounds + 1):
        parts.append(
            f"""a{r} AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, s.cell,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY round({_cos_sql('e.v', 's.cv')}, 9) DESC,
                                  s.cell DESC) AS rn
    FROM e CROSS JOIN {prev} s
  ) WHERE rn = 1
)"""
        )
        parts.append(
            f"""m{r} AS (
  SELECT cell, d, round(avg(x), 6) AS m FROM (
    SELECT cell, unnest(v) AS x, unnest(range(len(v))) AS d FROM a{r}
  ) GROUP BY cell, d
)"""
        )
        parts.append(
            f"cl{r} AS (SELECT cell, list(m ORDER BY d) AS cv FROM m{r} GROUP BY cell)"
        )
        # cells with no members keep the previous centroid (Spark twin
        # copies the prior list before overwriting computed cells)
        parts.append(
            f"""c{r} AS (
  SELECT s.cell, coalesce(cl{r}.cv, s.cv) AS cv
  FROM {prev} s LEFT JOIN cl{r} USING (cell)
)"""
        )
        prev = f"c{r}"
    parts.append(
        f"""afin AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, s.cell,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY round({_cos_sql('e.v', 's.cv')}, 9) DESC,
                                  s.cell DESC) AS rn
    FROM e CROSS JOIN {prev} s
  ) WHERE rn = 1
)"""
    )
    parts.append(
        f"""probe AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, s.cell,
      row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY round({_cos_sql('q.v', 's.cv')}, 9) DESC,
                                  s.cell DESC) AS rn
    FROM (SELECT vec_id, v FROM e WHERE {query_pred}) q CROSS JOIN {prev} s
  ) WHERE rn <= {nprobe}
)"""
    )
    parts.append(
        """cands AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM probe p JOIN afin a USING (cell)
  WHERE a.vec_id <> p.query_id
)"""
    )
    parts.append(
        f"""scored AS (
  SELECT c.query_id, c.neighbor_id, round({_cos_sql('q.v', 'n.v')}, 6) AS score
  FROM cands c
  JOIN e q ON c.query_id = q.vec_id
  JOIN e n ON c.neighbor_id = n.vec_id
)"""
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT query_id, neighbor_id, rank, score FROM (
  SELECT query_id, neighbor_id, score,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, neighbor_id ASC)::BIGINT AS rank
  FROM scored
) WHERE rank <= {k}
"""
    )
