"""Corpus-curation operators for training-data pipelines.

The reference is an entity-resolution pipeline; a production crawl
corpus additionally needs the selection/filtering stages that sit
around dedup in an LLM-data flow (SURVEY §2.7 extension surface):

* deterministic hash-threshold **stratified sampling** (per-stratum
  rates, resume-safe — the same row always makes the same decision);
* **exact-k deterministic samples** per stratum (window over a hashed
  order — the distributed cousin of reservoir sampling with a
  reproducible "random" order);
* **Gopher-style repetition signals** (duplicate-word mass, top-word
  dominance — Rae et al. 2021's repetition filters restated over the
  whitespace token stream);
* **C4-style quality gating** (Raffel et al. 2020: length bounds,
  mean-word-length band, stopword floor) as a composable boolean with
  per-rule reasons;
* per-**source stats** (the per-domain aggregates used for crawl
  triage).

Pure Catalyst expressions, except the Arrow md5 window kernel of
:func:`remove_duplicate_spans`; every operator has a DuckDB-portable
twin (md5 is the only hash either side uses, per the
oracle-portability recipes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import STOPWORDS

#: resolution of the sampling hash: md5-derived uniform integer in
#: [0, 1e6) — 1e6 buckets keeps rate granularity at 1e-6 while the
#: 32-bit hex slice stays exactly representable in a BIGINT on both
#: engines.
SAMPLE_BUCKETS = 1_000_000


def sample_bucket(key: Column | str, salt: str = "") -> Column:
    """Deterministic uniform bucket in [0, SAMPLE_BUCKETS) from a key
    column: ``int(md5(salt || key)[:8], 16) % 1e6``.

    md5 — not xxhash64 — so the DuckDB oracle reproduces it bit-exactly
    (``('0x' || substr(md5(...), 1, 8))::BIGINT``).  The salt decouples
    independent sampling decisions over the same key space.
    """
    c = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(F.lit(salt), c.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % SAMPLE_BUCKETS


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "strat",
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its hash
    bucket < rate(stratum) × 1e6.

    Scale shape: a single codegen'd filter over the scan — no shuffle,
    no RNG state, and resume-safe (re-running any partition makes the
    identical decisions; ``df.sample`` is seed-stable only per
    partitioning).  ``rates`` maps stratum value → keep probability;
    unlisted strata use ``default_rate``.
    """
    # round, not int(): int(0.3 * 1e6) truncates the float representation
    # to 299999 — a deterministic off-by-one vs any "< rate·1e6" twin
    thresh = F.lit(round(default_rate * SAMPLE_BUCKETS))
    for value, rate in sorted(rates.items()):
        thresh = F.when(
            F.col(stratum_col) == value, F.lit(round(rate * SAMPLE_BUCKETS))
        ).otherwise(thresh)
    return df.where(sample_bucket(key_col, salt) < thresh)


def _sample_order(key_col: str, salt: str) -> list[Column]:
    """The canonical deterministic sample order: (bucket, md5, key).
    Shared by :func:`exact_k_sample` and :func:`token_budget_sample`
    and mirrored by their SQL oracles — the prefilter-containment
    argument and resume-stability depend on every consumer agreeing on
    this exact ordering, so it lives in one place."""
    return [
        sample_bucket(key_col, salt),
        F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
        F.col(key_col),
    ]


#: safety factor for ``prefilter_rate="auto"``: the derived per-stratum
#: threshold targets ~AUTO_PREFILTER_SAFETY·k expected survivors, so the
#: P(undershoot) per stratum is Chernoff-small and the redo branch is
#: the rare path, not the common one.
AUTO_PREFILTER_SAFETY = 4.0


def exact_k_sample(
    df: DataFrame,
    k: int,
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "topk",
    prefilter_rate: float | str | None = None,
) -> DataFrame:
    """Exactly ``min(k, |stratum|)`` rows per stratum, chosen by rank in
    a deterministic pseudo-random order (the md5 sampling bucket, ties
    broken by md5 then the key itself so the pick is total).

    The distributed stand-in for per-stratum reservoir sampling: one
    shuffle on the stratum key, a window rank, a filter.

    **Mega-stratum scale path**: a billion-row stratum makes the plain
    window sort that whole stratum for k winners.  ``prefilter_rate``
    first drops to the rows whose sampling bucket clears the threshold
    (the same map-side filter as :func:`stratified_sample`, same salt)
    and ranks only those.  Because the rank order is bucket-first, the
    true top-k all sit below any threshold that retains ≥ k rows — so
    the result is IDENTICAL to the unfiltered path; strata where the
    prefilter kept fewer than ``min(k, |stratum|)`` rows (undershoot,
    or tiny strata) are detected with two cheap counts and re-ranked
    from the full input.  Expected sort volume drops from |stratum| to
    ~rate·|stratum| per stratum.

    ``prefilter_rate="auto"`` derives the rate PER STRATUM from its
    count (one tiny partial-agg pass): threshold ≈
    ``AUTO_PREFILTER_SAFETY·k / |stratum|``, capped at 1 — a billion-row
    stratum prefilters to ~4k rows while a 50-row stratum skips
    filtering entirely, with no caller guesswork.  The undershoot redo
    path still guards exactness either way.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(stratum_col).orderBy(*_sample_order(key_col, salt))

    def rank(frame: DataFrame) -> DataFrame:
        return (
            frame.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k)
            .drop("_rk")
        )

    if prefilter_rate is None:
        return rank(df)

    if prefilter_rate == "auto":
        # per-stratum thresholds from one count pass; ≤ one row per
        # stratum → broadcast (null-safe: a NULL stratum is its own
        # group and must match its own count row)
        counts = (
            df.groupBy(stratum_col)
            .agg(F.count("*").alias("_tot"))
            .withColumnRenamed(stratum_col, "_strat")
        )
        thr = F.least(
            F.lit(SAMPLE_BUCKETS).cast("long"),
            F.ceil(
                F.lit(AUTO_PREFILTER_SAFETY * k * SAMPLE_BUCKETS)
                / F.col("_tot")
            ),
        )
        pre = (
            df.join(
                F.broadcast(counts),
                F.col(stratum_col).eqNullSafe(F.col("_strat")),
            )
            .where(sample_bucket(key_col, salt) < thr)
            .drop("_strat", "_tot")
        )
    else:
        thresh = round(prefilter_rate * SAMPLE_BUCKETS)
        pre = df.where(sample_bucket(key_col, salt) < F.lit(thresh))
    kept = pre.groupBy(stratum_col).agg(F.count("*").alias("_kept"))
    total = df.groupBy(stratum_col).agg(F.count("*").alias("_total"))
    # strata whose prefilter survivors cannot cover min(k, |stratum|).
    # NULL-SAFE grouping join below: groupBy keeps a NULL stratum as its
    # own group, but a plain equi-join would never match it — the NULL
    # stratum would silently vanish from the redo branch.  Checkpointed
    # once (≤ one row per stratum) so the two count aggregations run
    # once, not once per consuming branch.
    incomplete = (
        total.join(kept, total[stratum_col].eqNullSafe(kept[stratum_col]), "left")
        .where(
            F.coalesce(F.col("_kept"), F.lit(0))
            < F.least(F.lit(k), F.col("_total"))
        )
        .select(total[stratum_col].alias("_bad_stratum"))
        .localCheckpoint(eager=True)
    )
    good = rank(
        pre.join(
            incomplete,
            pre[stratum_col].eqNullSafe(incomplete["_bad_stratum"]),
            "left_anti",
        )
    )
    redo = rank(
        df.join(
            incomplete,
            df[stratum_col].eqNullSafe(incomplete["_bad_stratum"]),
            "left_semi",
        )
    )
    return good.unionByName(redo)


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "budget",
) -> DataFrame:
    """Per-stratum TOKEN-budgeted sample: walk the stratum's documents
    in the deterministic md5-bucket order and keep whole documents while
    the running token total stays ≤ ``budget_tokens`` (the first
    over-budget document is excluded — conservative quota).

    The "give me 10B tokens per language" primitive of a training-data
    pipeline: one shuffle on the stratum key, a running-sum window in
    bucket order, a filter.  Deterministic and resume-stable for the
    same reasons as :func:`exact_k_sample`.  → input columns ⊕
    ``n_tokens`` (per doc) and ``cum_tokens`` (running total including
    this doc).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(stratum_col)
        .orderBy(*_sample_order(key_col, salt))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tok = F.size(_tokens(text_col)).cast("long")
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= budget_tokens)
    )


def _tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    # split('') yields [''] — strip the empty token so blank documents
    # report n_words = 0 (not 1) and the n>0 guards are reachable
    return F.array_remove(F.split(F.trim(c), r"\s+"), "")


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition signals per document:

    * ``n_words`` — whitespace token count;
    * ``dup_word_frac`` — fraction of token occurrences beyond each
      type's first (1 − distinct/total; Gopher's duplicate-line mass,
      restated over tokens for single-line web text);
    * ``top_word_frac`` — occurrence share of the most frequent token.

    Plan: explode → groupBy(doc, token) → groupBy(doc), two
    partial-aggregated shuffles linear in corpus token mass, then a left
    join onto the id spine so token-less docs report zeros; ``id_col``
    must therefore be a non-null unique key.  A per-row
    top-word scan (``transform`` over ``array_distinct``) is
    O(distinct × n) interpreted work per doc: 156 s vs 0.6 s for this
    shape on 64 × 20k-token docs (docs/PLANS.md).
    """
    per_doc = (
        df.select(
            F.col(id_col).alias("id"), F.explode(_tokens(text_col)).alias("t")
        )
        .groupBy("id", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("id")
        .agg(
            F.sum("c").alias("_n"),
            F.count("*").alias("_n_distinct"),
            F.max("c").alias("_top"),
        )
    )
    spine = df.select(F.col(id_col).alias("id"))
    n = F.coalesce(F.col("_n"), F.lit(0))
    return spine.join(per_doc, "id", "left").select(
        F.col("id").alias(id_col),
        n.cast("long").alias("n_words"),
        F.round(
            F.when(n > 0, 1.0 - F.col("_n_distinct") / n).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_word_frac"),
        F.round(
            F.when(n > 0, F.col("_top") / n).otherwise(F.lit(0.0)), 6
        ).alias("top_word_frac"),
    )


#: C4-style gate defaults (Raffel et al. 2020 §2.2, adapted to the
#: normalized single-line corpus: no terminal-punctuation or brace
#: rules — normalization already stripped punctuation).
C4_MIN_CHARS = 50
C4_MAX_CHARS = 100_000
C4_MIN_WORDS = 10
C4_MEAN_WORD_LEN = (3.0, 10.0)
C4_MIN_STOPWORD_FRAC = 0.05


def c4_quality_gate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style keep/drop with per-rule booleans:

    ``len_ok`` (char-length band), ``words_ok`` (≥ C4_MIN_WORDS),
    ``mwl_ok`` (mean word length in band), ``stop_ok`` (stopword
    occurrence fraction ≥ floor), ``keep`` = conjunction.  Emitting the
    per-rule columns (not just ``keep``) is what makes the gate
    auditable at corpus scale — each rule's kill-rate is one groupBy
    away.

    Plan: zero-shuffle per-row projection, linear in tokens.  The
    stopword test is ``isin`` over the literal list, which Catalyst
    rewrites to a hash-set ``INSET`` — an O(1) probe per token, unlike
    ``array_contains`` over a literal array (O(|stopwords|) per token).
    """
    toks = _tokens(text_col)
    n_chars = F.length(text_col)
    n_words = F.size(toks)
    mwl = F.when(
        n_words > 0,
        F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t)) / n_words,
    ).otherwise(F.lit(0.0))
    stop_frac = F.when(
        n_words > 0,
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) / n_words,
    ).otherwise(F.lit(0.0))
    len_ok = (n_chars >= C4_MIN_CHARS) & (n_chars <= C4_MAX_CHARS)
    words_ok = n_words >= C4_MIN_WORDS
    mwl_ok = (mwl >= C4_MEAN_WORD_LEN[0]) & (mwl <= C4_MEAN_WORD_LEN[1])
    stop_ok = stop_frac >= C4_MIN_STOPWORD_FRAC
    return df.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars_text"),
        n_words.cast("long").alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(stop_frac, 6).alias("stopword_frac"),
        len_ok.alias("len_ok"),
        words_ok.alias("words_ok"),
        mwl_ok.alias("mwl_ok"),
        stop_ok.alias("stop_ok"),
        (len_ok & words_ok & mwl_ok & stop_ok).alias("keep"),
    )


def c4_line_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    min_lines: int = 3,
) -> DataFrame:
    """C4's LINE-level cleaning (Raffel et al. 2020 §2.2 — the step
    `c4_quality_gate` deliberately leaves out because it rewrites
    text): keep a line iff it ends in terminal punctuation
    (``. ! ? "``), has ≥ ``min_words`` whitespace words, and does not
    mention ``javascript`` (case-insensitive); then kill the PAGE if
    fewer than ``min_lines`` lines survive, or the ORIGINAL text
    contains ``lorem ipsum`` or a curly brace.

    → (id, text = kept lines joined by ``\\n`` in order, n_lines,
    n_kept, keep_page) for every input doc.

    Plan: zero-shuffle projection.  The line rules are array HOFs over
    the ``\\n``-split — interpreted, but O(lines + chars) per row with
    tiny constants (a regexp tail-anchor, a word count, a substring
    test per line).
    """
    lines = F.split(F.col(text_col), "\n")
    nonempty = F.filter(lines, lambda l: F.trim(l) != "")

    def line_ok(l):
        t = F.trim(l)
        words = F.size(F.filter(F.split(t, r"\s+"), lambda w: w != ""))
        return (
            t.rlike(r'[.!?"]$')
            & (words >= min_words)
            & ~F.lower(t).contains("javascript")
        )

    kept = F.filter(nonempty, line_ok)
    n_kept = F.size(kept)
    keep_page = (
        (n_kept >= min_lines)
        & ~F.lower(F.col(text_col)).contains("lorem ipsum")
        & ~F.col(text_col).contains("{")
    )
    return df.select(
        F.col(id_col),
        F.array_join(F.transform(kept, lambda l: F.trim(l)), "\n").alias(
            "text"
        ),
        F.size(nonempty).cast("int").alias("n_lines"),
        n_kept.cast("int").alias("n_kept"),
        keep_page.alias("keep_page"),
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Cross-document paragraph dedup (CCNet-style): every paragraph
    that already appeared earlier in the corpus — in ANY document — is
    dropped; the first occurrence (ordered by (doc id, position), a
    total deterministic order) survives.

    → (id, text [rebuilt from surviving paragraphs], n_paras,
    n_dropped) for EVERY input document: docs whose every paragraph was
    seen before come back with empty text, and docs with NO non-empty
    paragraph (empty/whitespace-only text) come back with
    ``text='', n_paras=0, n_dropped=0`` — the output is a full
    annotation, joinable back onto the input without null-handling
    (ADVICE r3: the previous version silently dropped such docs).

    Scale shape: explode → the first occurrence per paragraph digest is
    a partial-aggregable ``groupBy(md5(para)).agg(min(struct(id, pos)))``
    equi-joined back — NOT a per-key window sort (r3 VERDICT: a
    boilerplate paragraph occurring 10⁸ times would sort inside ONE
    window task; the groupBy shape map-side-combines and the join back
    is AQE-skew-splittable) → one shuffle on doc id to rebuild.  No
    driver data, no Python.  ``sep`` is treated as a LITERAL separator
    on both the split and rebuild sides (regex metacharacters are
    escaped before Spark's regex split).
    """
    import re

    paras = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias(
                "pos", "para"
            ),
        )
        .where(F.length(F.trim(F.col("para"))) > 0)
        .withColumn("_h", F.md5("para"))
    )
    # min(struct(id, pos)) orders lexicographically by (id, pos) — the
    # same total first-occurrence order the window version used
    winners = paras.groupBy("_h").agg(F.min(F.struct("id", "pos")).alias("_w"))
    kept = paras.join(winners, "_h").withColumn(
        "_keep", F.struct("id", "pos") == F.col("_w")
    )
    per_doc = kept.groupBy("id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("pos", "para"))
                    )
                ),
                lambda s: s["para"],
            ),
        ).alias("text"),
        F.count("*").cast("long").alias("n_paras"),
        F.sum(F.when(~F.col("_keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
    )
    spine = df.select(F.col(id_col).alias("id"))
    return spine.join(per_doc, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("n_paras", F.lit(0)).cast("long").alias("n_paras"),
        F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
    )


def dup_ngram_stats(
    df: DataFrame,
    ns: tuple[int, ...] = (2, 5),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style duplicate-n-gram character fractions (Rae et al.
    2021 §A1.1): per document and n-gram order ``n``,

    * ``top_ngram_char_frac`` — characters covered by the single most
      frequent word n-gram (count × gram length, as a fraction of the
      document's normalized character mass) — Gopher gates n ∈ 2..4
      on this;
    * ``dup_ngram_char_frac`` — characters covered by ALL n-grams
      occurring ≥ 2 times (Σ count × length over duplicated grams) —
      Gopher gates n ∈ 5..10 on this.  Overlap between adjacent
      duplicated grams is counted per-occurrence (the standard
      implementable approximation; documented, deterministic).

    → (id, n, top_ngram_char_frac, dup_ngram_char_frac), one row per
    (doc, n) for EVERY input doc — docs with < n tokens report 0.0.

    Plan: per n, positional n-grams explode to (id, md5 digest, gram
    length) — gram TEXT never crosses the shuffle — then two
    partial-aggregated groupBys ((id, h) → counts, id → fractions),
    linear in corpus token mass; the per-doc char mass comes from the
    spine projection, no extra pass.  The per-(id, h) count shuffle is
    AQE-safe: keys are (doc, gram) pairs, so a corpus-wide hot gram
    does not produce a hot key.
    """
    from ..functions.normalize import normalize_text
    from ..functions.text import word_ngrams

    norm = normalize_text(F.col(text_col))
    spine = df.select(
        F.col(id_col).alias("id"),
        F.length(F.concat_ws(" ", _tokens(norm))).alias("_mass"),
    )
    parts = []
    for n in ns:
        per_gram = (
            df.select(
                F.col(id_col).alias("id"),
                F.explode(word_ngrams(norm, n)).alias("g"),
            )
            .select("id", F.md5("g").alias("h"), F.length("g").alias("len"))
            .groupBy("id", "h")
            .agg(F.count("*").alias("c"), F.first("len").alias("len"))
        )
        parts.append(
            per_gram.groupBy("id").agg(
                F.lit(n).alias("n"),
                F.max(F.col("c") * F.col("len")).alias("_top_chars"),
                F.sum(
                    F.when(F.col("c") >= 2, F.col("c") * F.col("len")).otherwise(0)
                ).alias("_dup_chars"),
            )
        )
    stats = parts[0]
    for p in parts[1:]:
        stats = stats.unionByName(p)
    grid = spine.crossJoin(
        F.broadcast(
            df.sparkSession.createDataFrame([(n,) for n in ns], "n int")
        )
    )
    return grid.join(stats, ["id", "n"], "left").select(
        F.col("id").alias(id_col),
        F.col("n").cast("int").alias("n"),
        F.round(
            F.when(
                F.col("_mass") > 0,
                F.coalesce("_top_chars", F.lit(0)) / F.col("_mass"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("top_ngram_char_frac"),
        F.round(
            F.when(
                F.col("_mass") > 0,
                F.coalesce("_dup_chars", F.lit(0)) / F.col("_mass"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_ngram_char_frac"),
    )


def shingle_overlap_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Cross-document duplicate-span signal: per document, how much of
    it is made of word ``shingle_n``-grams that ALSO occur in some
    other document.

    → (id, n_shingles, n_shared, shared_frac) — the poor-man's
    suffix-array dedup statistic (Lee et al. 2022's duplicate-substring
    mass, restated at shingle granularity): a doc with shared_frac near
    1 is boilerplate or a near-copy even if no single pair-join catches
    it.

    Plan: explode distinct shingles → count docs per shingle (partial
    agg) → join back → per-doc agg.  Shuffle keys are md5 digests of
    shingles, never the text.
    """
    from ..operators.dedup import shingles

    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(text_col, shingle_n)).alias("s"),
    ).select("id", F.md5("s").alias("h"))
    counts = sh.groupBy("h").agg(F.count_distinct("id").alias("n_docs"))
    return (
        sh.join(counts, "h")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_shared"),
        )
        .withColumn(
            "shared_frac",
            F.round(
                F.when(
                    F.col("n_shingles") > 0,
                    F.col("n_shared") / F.col("n_shingles"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
        .withColumnRenamed("id", id_col)
    )


def flag_contamination(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_hits: int = 1,
    bloom_bits: int | None = None,
    bloom_k: int = 4,
) -> DataFrame:
    """Train/test decontamination: flag training documents sharing at
    least ``min_hits`` distinct word ``shingle_n``-grams with ANY
    benchmark document.

    → (id, n_hits, contaminated) for EVERY training doc (n_hits = 0
    rows included, so the output is a full annotation, joinable back
    without null-handling).

    Plan: benchmark shingles are deduplicated to a digest set (tiny
    relative to the corpus — broadcast-able at real scale); training
    shingles equi-join it, count distinct hits per doc, left-join back
    onto the id spine.  The corpus crosses the wire as 16-byte digests.

    ``bloom_bits`` enables the 100 TB scale path: a Bloom bitmap over
    the benchmark digests (``operators.bloom``, ~``bloom_bits/8``
    bytes broadcast) discards non-matching corpus shingles MAP-SIDE
    with zero shuffle before the exact join, so only probable hits
    (true hits + the filter's false-positive rate) are shuffled; the
    exact join then removes the false positives, making the output
    IDENTICAL to the plain path (equality-tested in
    ``tests/test_corpus.py``).
    """
    from ..operators.dedup import shingles

    bench_sh = (
        benchmark.select(F.explode(shingles(text_col, shingle_n)).alias("s"))
        .select(F.md5("s").alias("h"))
        .dropDuplicates(["h"])
    )
    train_sh = train.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(text_col, shingle_n)).alias("s"),
    ).select("id", F.md5("s").alias("h"))
    if bloom_bits:
        from ..operators.bloom import bloom_bitmap, bloom_prefilter

        bm = bloom_bitmap(bench_sh, "h", bloom_bits, bloom_k)
        train_sh = bloom_prefilter(train_sh, "h", bm, bloom_bits, bloom_k)
    hits = (
        train_sh.join(bench_sh, "h")
        .groupBy("id")
        .agg(F.count_distinct("h").alias("n_hits"))
    )
    return (
        train.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def contamination_spans(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_run: int = 2,
) -> DataFrame:
    """Windowed train/test decontamination (GPT-3 appendix C / Lee et
    al. 2022 style): per training document, the longest CONTIGUOUS run
    of word ``shingle_n``-gram positions whose shingle also occurs in
    some benchmark document — real pipelines gate on a sustained
    overlap span, not a bag-of-shingles hit count
    (:func:`flag_contamination` reports the latter).

    → (id, n_hit_positions, max_hit_run, contaminated = max run ≥
    ``min_run``) for EVERY training doc (zero rows included).

    Plan: POSITIONAL shingles (``posexplode`` of the n-gram array — not
    the distinct shingle set) → digest equi-join against the deduped
    benchmark digest set (broadcast-able at real scale) → classic
    gaps-and-islands (``pos − row_number`` over a per-DOC window; the
    partition key is a document id, so the window sort is bounded by
    document length, never by corpus-wide key frequency) → per-doc max
    → left join onto the id spine.  Shingle text never crosses a
    shuffle — only 16-byte digests and integer positions.
    """
    from pyspark.sql import Window

    from ..functions.normalize import normalize_text
    from ..functions.text import word_ngrams
    from ..operators.dedup import shingles

    bench_sh = (
        benchmark.select(F.explode(shingles(text_col, shingle_n)).alias("s"))
        .select(F.md5("s").alias("h"))
        .dropDuplicates(["h"])
    )
    tr = train.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            word_ngrams(normalize_text(F.col(text_col)), shingle_n)
        ).alias("pos", "s"),
    ).select("id", "pos", F.md5("s").alias("h"))
    w = Window.partitionBy("id").orderBy("pos")
    runs = (
        tr.join(bench_sh, "h")
        .withColumn("_grp", F.col("pos") - F.row_number().over(w))
        .groupBy("id", "_grp")
        .agg(F.count("*").alias("_run"))
        .groupBy("id")
        .agg(
            F.sum("_run").cast("long").alias("n_hit_positions"),
            F.max("_run").cast("long").alias("max_hit_run"),
        )
    )
    spine = train.select(F.col(id_col).alias("id"))
    return spine.join(runs, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("n_hit_positions", F.lit(0)).cast("long").alias(
            "n_hit_positions"
        ),
        F.coalesce("max_hit_run", F.lit(0)).cast("long").alias("max_hit_run"),
        (F.coalesce("max_hit_run", F.lit(0)) >= min_run).alias("contaminated"),
    )


def source_stats(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-source corpus triage aggregates: document count, total/mean
    chars, distinct languages — the per-domain rollup a crawl curator
    ranks sources by.  One partial-aggregated shuffle on the source
    key."""
    return df.groupBy(source_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length(text_col)).cast("long").alias("total_chars"),
        F.round(F.avg(F.length(text_col)), 6).alias("mean_chars"),
        F.count_distinct(lang_col).cast("long").alias("n_langs"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
) -> DataFrame:
    """Exact duplicate-span REMOVAL (Lee et al. 2022 §4's
    dedup-and-train form, at token-shingle granularity): any token
    covered by a ``k``-token shingle whose exact text occurs elsewhere
    in the corpus — in another document OR earlier in the same one — is
    deleted, except that the globally FIRST occurrence (ordered by
    (doc id, position), total and deterministic) of each duplicated
    shingle keeps its span.  ``shingle_overlap_stats`` reports this
    signal; this operator applies it.

    → (id, text [surviving tokens, space-joined, in order], n_tokens,
    n_removed) for EVERY input document (docs with < k tokens pass
    through untouched; fully-duplicated docs come back with
    ``text=''``).

    Plan shape: shingles are md5-digested INSIDE the per-row kernel,
    so gram text never crosses a shuffle; the
    first-occurrence pick is the partial-aggregable
    ``groupBy(h).agg(min(struct(id, pos)))`` + equi-join-back (same
    de-skewed shape as ``paragraph_dedup`` — a boilerplate span
    occurring 10⁸ times is not a hot window); span coverage is a
    gaps-and-islands running max over (interval ∪ token) events
    partitioned by DOC id (sort bounded by doc length, never by corpus
    key frequency — same shape as ``contamination_spans``); rebuild
    collects doc-bounded structs.

    The digest kernel is ``functions.window_md5.window_md5_udf``,
    imported here so that pandas is needed only when this operator
    runs.  An interpreted
    ``transform(sequence(...), md5(concat_ws(slice)))`` digest was
    slower on every input but ≤ 100-token docs at k = 5 (docs/PLANS.md).
    """
    from pyspark.sql import Window

    from ..functions.window_md5 import window_md5_udf

    toks_col = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    base = df.select(F.col(id_col).alias("id"), toks_col.alias("toks"))
    tok = base.select("id", F.posexplode("toks").alias("pos", "tok"))
    grams = window_md5_udf(k)(F.col("toks"))
    occ = base.select("id", F.posexplode(grams).alias("pos", "h"))
    winners = occ.groupBy("h").agg(F.min(F.struct("id", "pos")).alias("_w"))
    dups = (
        occ.join(winners, "h")
        .where(F.struct("id", "pos") != F.col("_w"))
        .select(
            "id",
            F.col("pos").alias("s"),
            (F.col("pos") + (k - 1)).alias("e"),
        )
    )
    events = dups.select(
        "id",
        F.col("s").alias("pos"),
        F.lit(0).alias("typ"),
        F.col("e"),
        F.lit(None).cast("string").alias("tok"),
    ).unionByName(
        tok.select(
            "id",
            "pos",
            F.lit(1).alias("typ"),
            F.lit(None).cast("integer").alias("e"),
            "tok",
        )
    )
    w = (
        Window.partitionBy("id")
        .orderBy("pos", "typ")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    kt = (
        events.withColumn("_cover", F.max("e").over(w))
        .where(F.col("typ") == 1)
        .withColumn(
            "_rm", F.coalesce(F.col("_cover") >= F.col("pos"), F.lit(False))
        )
    )
    per_doc = kt.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("_rm"), F.struct("pos", "tok"))
                    )
                ),
                lambda s: s["tok"],
            ),
        ).alias("text"),
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("_rm"), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
    )
    spine = df.select(F.col(id_col).alias("id"))
    return spine.join(per_doc, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
    )
