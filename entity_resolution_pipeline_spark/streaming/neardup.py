"""Incremental (streaming) MinHash-LSH near-duplicate detection.

A continuously-crawled corpus needs near-dup checks at ingest: each
arriving document is tested against the already-indexed corpus without
recomputing the corpus index.  The reference is batch-only (SURVEY
§2.7); this is part of the streaming surface the engine adds.

Spark-first shape:

* signatures are computed **per-row** (``array_min ∘ transform`` over
  the shingle set — K seeded-md5 permutations, identical values to
  ``operators.dedup.minhash_signatures``'s explode+groupBy route but
  with NO shuffle), which makes the whole signature+banding transform
  stateless and therefore legal on a streaming DataFrame (on batch
  input the groupBy route is the faster one, docs/PLANS.md);
* the arriving batch equi-joins the **static** banded corpus index on
  (band_idx, band_key) — a stream-static join, no state;
* collisions are verified with exact shingle Jaccard (the corpus index
  carries its shingle sets, the stream computes its own);
* cross-band/cross-batch duplicate pairs are suppressed with
  ``dropDuplicatesWithinWatermark`` keyed on the pair — bounded state.

The batch twin (:func:`near_dups_against`) is the same expression tree
minus watermarking, and is oracle-checked by the driver gate
(``stream_near_dups`` query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions.text import let
from ..operators.dedup import _lsh_banded, shingle_jaccard, shingles


def banded_minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """→ (id, sh, keep_cols…, band_idx, band_key): the LSH index rows
    of ``df`` — one row per (document, band).  Pure per-row expressions
    (shingle → K md5 mins → band digests → explode): works identically
    on batch and streaming inputs.  Docs without a shingle (fewer than
    ``shingle_n`` tokens) have no rows: their signature would be NULL
    and every such doc would share one band key."""
    sh = shingles(text_col, shingle_n)

    def perm(i: int):
        # closure factory: a default-arg lambda would have arity 2 and
        # bind to transform's (value, index) variant
        return lambda s: F.md5(F.concat(F.lit(f"{i}:"), s))

    # one struct per row, so the shingle set is built once, not once
    # per signature
    row = let(
        sh,
        lambda s: F.struct(
            s.alias("sh"),
            *[F.array_min(F.transform(s, perm(i))).alias(f"sig_{i}") for i in range(num_hashes)],
        ),
    )
    with_sigs = df.select(
        F.col(id_col).alias("id"), row.alias("m"), *[F.col(c) for c in keep_cols]
    ).select("id", "m.*", *keep_cols)
    return _lsh_banded(with_sigs, ["id", "sh", *keep_cols], bands, num_hashes // bands)


def _band_verify(
    new_index: DataFrame,
    corpus_index: DataFrame,
    threshold: float,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Two :func:`banded_minhash_index` frames → (new_id, corpus_id,
    keep_cols…, jaccard ≥ θ): equi-join on (band_idx, band_key), then
    exact shingle Jaccard.  A pair colliding in several bands repeats;
    the caller dedups it."""
    ni = new_index.select(
        F.col("id").alias("new_id"),
        F.col("sh").alias("sh_new"),
        *keep_cols,
        "band_idx",
        "band_key",
    )
    ci = corpus_index.select(
        F.col("id").alias("corpus_id"),
        F.col("sh").alias("sh_corpus"),
        "band_idx",
        "band_key",
    )
    return (
        ni.join(ci, ["band_idx", "band_key"])
        .where(F.col("new_id") != F.col("corpus_id"))
        .select(
            "new_id",
            "corpus_id",
            *keep_cols,
            F.round(shingle_jaccard(F.col("sh_new"), F.col("sh_corpus")), 6).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )


def near_dups_against(
    new_docs: DataFrame,
    corpus_index: DataFrame,
    threshold: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Batch twin: → (new_id, corpus_id, jaccard ≥ θ) pairs between
    ``new_docs`` and a pre-built :func:`banded_minhash_index`.

    ``corpus_index`` is built ONCE (e.g. checkpointed/bucketed on
    (band_idx, band_key)); each new batch only indexes itself.
    """
    ni = banded_minhash_index(new_docs, id_col, text_col, num_hashes, bands, shingle_n)
    return _band_verify(ni, corpus_index, threshold).dropDuplicates(
        ["new_id", "corpus_id"]
    )


def _hadoop_fs(spark, dir_str: str):
    """(FileSystem, Path) for ``dir_str`` via the session's Hadoop conf —
    works for any supported URI scheme (local, HDFS, s3a, ...)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(dir_str)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _parse_gen_name(name: str) -> tuple[int, int] | None:
    """``gen=<lo>-<hi>`` → (lo, hi) covering batches lo ≤ b < hi;
    legacy single-generation ``upto=<n>`` dirs read as (0, n).  Foreign
    or staging dirs (renamed ``_temporary``, hand-made names) return
    None and are ignored, not a stream-wedging ValueError on every
    subsequent micro-batch (ADVICE r3)."""
    if name.startswith("upto="):
        suffix = name.split("=", 1)[1]
        return (0, int(suffix)) if suffix.isdigit() else None
    if not name.startswith("gen="):
        return None
    body = name.split("=", 1)[1]
    lo, sep, hi = body.partition("-")
    if not sep or not lo.isdigit() or not hi.isdigit():
        return None
    return int(lo), int(hi)


def _index_layout(spark, index_dir: str):
    """Inspect the self-growing index's on-disk layout.

    Returns ``(chain, delta_ids)``.  ``chain`` is the list of
    ``(lo, hi, path)`` COMPLETE (``_SUCCESS``-gated) compacted
    generations forming a contiguous non-overlapping cover of
    ``[0, chain[-1].hi)`` — when interrupted deletes leave OVERLAPPING
    generations behind (a merged generation plus its not-yet-deleted
    inputs), the widest one wins at each coverage point, which is
    exactly-once because a merge's output is the exact union of its
    inputs.  ``delta_ids`` is every per-batch delta partition id on
    disk.  Existence is checked explicitly — a transient IO error here
    RAISES and fails the micro-batch (it must not be read as "index
    empty": that would silently drop near-dup pairs — ADVICE r2).
    """
    fs, root = _hadoop_fs(spark, index_dir)
    gens, delta_ids = [], []
    if not fs.exists(root):
        return [], delta_ids
    jvm = spark._jvm
    comp_root = jvm.org.apache.hadoop.fs.Path(f"{index_dir}/_compacted")
    if fs.exists(comp_root):
        for st in fs.listStatus(comp_root):
            name = st.getPath().getName()
            if not st.isDirectory():
                continue
            span = _parse_gen_name(name)
            if span is None:
                continue
            success = jvm.org.apache.hadoop.fs.Path(
                f"{index_dir}/_compacted/{name}/_SUCCESS"
            )
            if fs.exists(success):
                gens.append(
                    (span[0], span[1], f"{index_dir}/_compacted/{name}")
                )
    # greedy widest-coverage chain from batch 0
    chain, cover = [], 0
    while True:
        best = None
        for lo, hi, path in gens:
            if lo <= cover < hi and (best is None or hi > best[1]):
                best = (lo, hi, path)
        if best is None:
            break
        chain.append((cover, best[1], best[2]))
        cover = best[1]
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch="):
            suffix = name.split("=", 1)[1]
            if suffix.isdigit():
                delta_ids.append(int(suffix))
    return chain, sorted(delta_ids)


def read_corpus_index(
    spark, index_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """The current logical corpus index: the compacted generation chain
    (covering ``[0, cover)``) ∪ the delta partitions written after it.
    Deltas *older* than the chain's coverage are ignored (they are
    already inside a generation; leftovers only exist if a
    post-compaction delete was interrupted — ignoring them keeps the
    view exactly-once).

    Returns None when nothing has been indexed yet.
    """
    chain, delta_ids = _index_layout(spark, index_dir)
    cover = chain[-1][1] if chain else 0
    deltas = [b for b in delta_ids if b != exclude_batch and b >= cover]
    parts = []
    if chain:
        parts.append(spark.read.parquet(*[path for _, _, path in chain]))
    if deltas:
        parts.append(
            spark.read.parquet(*[f"{index_dir}/batch={b}" for b in deltas])
        )
    if not parts:
        return None
    view = parts[0]
    for p in parts[1:]:
        view = view.unionByName(p)
    return view


def compact_index(spark, index_dir: str, batch_id: int) -> None:
    """Geometric (binary-counter / LSM-style) compaction of the
    self-growing index at the ``batch_id`` trigger point.

    r3 VERDICT Next #5: the r2 scheme rewrote the ENTIRE view into one
    generation at every trigger — O(batches² / compact_every)
    cumulative WRITE volume at crawl horizons.  This scheme instead:

    1. **Fold**: deltas in ``[cover, batch_id)`` (cover = end of the
       current generation chain) are rewritten into one new generation
       ``gen=<cover>-<batch_id>`` and deleted — a small, constant-sized
       write per trigger.
    2. **Merge**: while the newest generation's batch-span ≥ its
       predecessor's, the two are merged into ``gen=<lo>-<hi>`` and the
       inputs deleted — the classic logarithmic method, so any row is
       rewritten at most ``log₂(batches / compact_every)`` times and
       cumulative write volume is O(N log N).  Live generation count is
       likewise O(log N), bounding read fan-in.

    Replay-safe at every crash point, by the same rules as before:
    generations become visible only via ``_SUCCESS`` (a torn write is
    invisible and its inputs untouched — output dirs are distinct from
    input dirs, nothing the current view reads is ever overwritten);
    a replayed trigger finds ``cover == batch_id`` and skips the fold;
    an interrupted input-delete leaves overlapping generations that the
    layout parser resolves widest-wins and this function garbage-
    collects on the next trigger.
    """
    jvm = spark._jvm
    fs, _ = _hadoop_fs(spark, index_dir)

    def delete(path: str) -> None:
        fs.delete(jvm.org.apache.hadoop.fs.Path(path), True)

    chain, delta_ids = _index_layout(spark, index_dir)
    cover = chain[-1][1] if chain else 0
    fold = [b for b in delta_ids if cover <= b < batch_id]
    if fold:
        spark.read.parquet(
            *[f"{index_dir}/batch={b}" for b in fold]
        ).write.mode("overwrite").parquet(
            f"{index_dir}/_compacted/gen={cover}-{batch_id}"
        )
        chain.append(
            (cover, batch_id, f"{index_dir}/_compacted/gen={cover}-{batch_id}")
        )
        for b in fold:
            delete(f"{index_dir}/batch={b}")
    # stale deltas below the chain's coverage: already inside a
    # generation (interrupted post-compaction delete) — remove
    for b in delta_ids:
        if b < cover:
            delete(f"{index_dir}/batch={b}")
    # binary-counter merge: equal-or-larger span than the predecessor
    while len(chain) >= 2 and (
        chain[-1][1] - chain[-1][0] >= chain[-2][1] - chain[-2][0]
    ):
        (lo_a, _, path_a), (_, hi_b, path_b) = chain[-2], chain[-1]
        merged = f"{index_dir}/_compacted/gen={lo_a}-{hi_b}"
        spark.read.parquet(path_a, path_b).write.mode("overwrite").parquet(
            merged
        )
        delete(path_a)
        delete(path_b)
        chain = chain[:-2] + [(lo_a, hi_b, merged)]
    # garbage-collect complete generations superseded by the chain
    # (inputs of an interrupted merge-delete, legacy upto= dirs, ...)
    live = {path for _, _, path in chain}
    comp_root = jvm.org.apache.hadoop.fs.Path(f"{index_dir}/_compacted")
    if fs.exists(comp_root):
        final_cover = chain[-1][1] if chain else 0
        for st in fs.listStatus(comp_root):
            name = st.getPath().getName()
            span = _parse_gen_name(name)
            path = f"{index_dir}/_compacted/{name}"
            if span is None or path in live:
                continue
            if span[1] <= final_cover and fs.exists(
                jvm.org.apache.hadoop.fs.Path(f"{path}/_SUCCESS")
            ):
                delete(path)


def run_incremental_neardup(
    stream_docs: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    compact_every: int | None = 16,
):
    """Self-growing ingest dedup: each micro-batch is checked against
    the index of EVERYTHING ingested so far, then appended to it.

    ``foreachBatch`` gives the two things the pure stream-static join
    cannot: (a) the static side is re-read per batch, so batch *k*
    sees batches 1..k-1 (a near-dup arriving later than its original
    is caught even when neither is in the seed corpus); (b) writes are
    batch-id-keyed directory overwrites, so a replayed batch after a
    crash rewrites the same paths — idempotent, exactly-once output
    without a transactional sink.

    Layout: ``index_dir/batch=<id>/`` per-batch delta index rows,
    ``index_dir/_compacted/gen=<lo>-<hi>/`` consolidated generations
    covering batches ``[lo, hi)`` (the ``_``-prefix hides them from
    naive root reads; legacy ``upto=<n>`` dirs still read as
    ``gen=0-<n>``), ``out_dir/batch=<id>/`` discovered
    (new_id, corpus_id, jaccard) pairs.

    **Compaction** (r2 VERDICT: without it every batch re-reads ALL
    prior per-batch partitions — O(batches²) cumulative read volume and
    unbounded small-file growth at crawl horizons; r3 VERDICT Next #5:
    rewriting the FULL view each trigger made cumulative writes
    O(batches²/compact_every) too): every ``compact_every`` batches
    :func:`compact_index` folds the accumulated deltas into a new
    ``_SUCCESS``-gated generation and geometrically merges adjacent
    generations — O(log batches) live generations, O(N log N)
    cumulative write volume, replay-safe at every crash point (see its
    docstring).  Pass ``compact_every=None`` to disable.  Returns the
    StreamingQuery.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)
        # exclude this batch's own partition: a crash between the index
        # write and the checkpoint commit replays the batch, which must
        # not see its own failed-attempt rows (keeps replayed output
        # identical to the no-crash run)
        idx = read_corpus_index(spark, index_dir, exclude_batch=batch_id)
        if idx is not None:
            pairs = near_dups_against(
                batch_df,
                idx,
                threshold=threshold,
                id_col=id_col,
                text_col=text_col,
                num_hashes=num_hashes,
                bands=bands,
                shingle_n=shingle_n,
            )
        else:
            # schema derived from the batch (ADVICE r2: a hardcoded
            # `long` id miscoerces string-id corpora)
            id_type = batch_df.schema[id_col].dataType
            pairs = spark.createDataFrame(
                [],
                StructType(
                    [
                        StructField("new_id", id_type),
                        StructField("corpus_id", id_type),
                        StructField("jaccard", DoubleType()),
                    ]
                ),
            )
        pairs.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_index(spark, index_dir, batch_id)
        banded_minhash_index(
            batch_df, id_col, text_col, num_hashes, bands, shingle_n
        ).write.mode("overwrite").parquet(f"{index_dir}/batch={batch_id}")

    return (
        stream_docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def stream_near_dups(
    stream_docs: DataFrame,
    corpus_index: DataFrame,
    threshold: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ingest_ts",
    watermark: str = "10 minutes",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Streaming flavor: ``stream_docs`` is a streaming DataFrame with
    an event-time ``ts_col``; emits each (new_id, corpus_id) pair once
    (within the watermark) as it is discovered.

    State accounting: the stream-static band join holds no state; the
    only stateful operator is the pair-keyed
    ``dropDuplicatesWithinWatermark``, whose state is bounded by the
    watermark horizon.
    """
    wm = stream_docs.withWatermark(ts_col, watermark)
    ni = banded_minhash_index(
        wm, id_col, text_col, num_hashes, bands, shingle_n, keep_cols=(ts_col,)
    )
    return _band_verify(ni, corpus_index, threshold, (ts_col,)).dropDuplicatesWithinWatermark(
        ["new_id", "corpus_id"]
    )
