"""Corpus curation pipeline: gate → exact dedup → near-dup removal →
stratified sample, checkpointed + resumable."""

from __future__ import annotations

import pytest

from entity_resolution_pipeline_spark.plans.curate import (
    CurationConfig,
    CurationPipeline,
)
from entity_resolution_pipeline_spark.sources.catalog import TableCatalog

GOOD = (
    "the quick brown fox jumps over the lazy dog and then rests in the "
    "warm afternoon sun for a while before it runs off again"
)


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cur") / "docs.parquet")
    rows = []
    # 30 good unique docs (distinct tails keep them un-near-dup'd)
    for i in range(30):
        tail = " ".join(f"unique{i}word{j} extra{(i*7+j)%13}" for j in range(12))
        rows.append((i, f"{GOOD} {tail}", "en" if i % 2 == 0 else "de"))
    # exact duplicates of doc 0 (survive gate, die in exact stage)
    rows += [(100 + j, rows[0][1], "en") for j in range(3)]
    # near duplicate of doc 1 (one word changed -> dies in neardup stage)
    rows.append((200, rows[1][1].replace("unique1word3", "changed"), "de"))
    # quality failures (die at the gate)
    rows.append((300, "too short", "en"))
    rows.append((301, " ".join(["zzzzzzzzzzzzzzzzzz"] * 15), "en"))
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(path)
    return path


def test_curation_funnel_and_resume(spark, tmp_path, corpus_path):
    cat = TableCatalog(spark, str(tmp_path / "wh"))
    cfg = CurationConfig(rates={"en": 1.0, "de": 1.0}, minhash_threshold=0.5)
    pipe = CurationPipeline(spark, cat, corpus_path, cfg)
    out = pipe.run()
    funnel = out["funnel"]
    assert funnel["input"] == 36
    assert funnel["gate"] == 34          # 2 quality failures dropped
    assert funnel["exact"] == 31         # 3 exact dups of doc 0 dropped
    assert funnel["neardup"] == 30       # near-dup 200 dropped
    assert funnel["sample"] == 30        # rates 1.0 keep everything
    # representatives kept are the min ids
    ids = {r.doc_id for r in cat.read("neardup").collect()}
    assert 0 in ids and 1 in ids
    assert ids.isdisjoint({100, 101, 102, 200, 300, 301})

    # resume: second run writes nothing new
    stamps1 = {m["table"]: m["written_at_epoch"] for m in cat.metrics()}
    out2 = pipe.run()
    stamps2 = {m["table"]: m["written_at_epoch"] for m in cat.metrics() if m["table"] in stamps1}
    assert stamps1 == stamps2 and out2 == out

    # a rate-only change re-runs EXACTLY the sample stage: upstream
    # fingerprints hash only their own knobs + chain, so gate/exact/
    # neardup are skipped (timestamps unchanged), sample is rebuilt
    pipe2 = CurationPipeline(
        spark, cat, corpus_path,
        CurationConfig(rates={"en": 0.5, "de": 0.0}, minhash_threshold=0.5),
    )
    sampled = pipe2.stage("sample")
    langs = {r.lang for r in sampled.collect()}
    assert "de" not in langs
    stamps3 = {m["table"]: m["written_at_epoch"] for m in cat.metrics()}
    for s in ("gate", "exact", "neardup"):
        assert stamps3[s] == stamps1[s], s
    # the sample checkpoint now carries pipe2's fingerprint, not pipe's
    nd_fp = pipe._stage("neardup")[1]
    assert not cat.exists("sample", pipe._fingerprint("sample", nd_fp))
    assert cat.exists("sample", pipe2._fingerprint("sample", nd_fp))

    # a different input path invalidates the whole chain
    pipe3 = CurationPipeline(spark, cat, corpus_path + ".elsewhere", cfg)
    assert pipe3._fingerprint("gate", None) != pipe._fingerprint("gate", None)


def test_curation_sample_rates(spark, tmp_path, corpus_path):
    cat = TableCatalog(spark, str(tmp_path / "wh2"))
    pipe = CurationPipeline(
        spark, cat, corpus_path,
        CurationConfig(rates={}, default_rate=0.0),
    )
    out = pipe.run()
    assert out["funnel"]["sample"] == 0
    assert out["kill_rate"]["sample"] == 1.0


# ---------------------------------------------------------------------------
# r5: optional crawl-curation stages composed into the chain
# ---------------------------------------------------------------------------

SPAN = " ".join(f"span{i} common{i}" for i in range(6))  # 12-token dup span


@pytest.fixture(scope="module")
def web_corpus(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("webcur")
    docs_path = str(root / "docs.parquet")
    bench_path = str(root / "bench.parquet")
    footer = "copyright example all rights reserved today ok"
    rows = []
    for i in range(20):
        body = f"{GOOD} tail{i}a tail{i}b tail{i}c tail{i}d."
        # two lines that pass the line filter (>=5 words, terminal punct)
        # plus the shared footer line (boilerplate on this domain) and a
        # junk line the line filter kills
        text = f"{body}\n{SPAN} filler{i}x filler{i}y done here now.\n{footer}.\nno"
        rows.append((i, f"https://www.site.co.uk/p{i}?utm_source=x", i % 3, text, "en"))
    # snapshot duplicate: same canonical URL as doc 0, older ts -> dropped
    rows.append(
        (50, "HTTPS://WWW.site.co.uk:443/p0?utm_medium=z", -1,
         "older capture of page zero", "en")
    )
    # contaminated doc: 3 line-filter-surviving lines (so it reaches the
    # decontaminate stage), one sharing 3-grams with the benchmark
    contaminated = (
        f"{GOOD}.\n"
        "the leaked benchmark passage alpha beta gamma delta epsilon zeta "
        "eta theta appears here.\n"
        "this document should be dropped by decontamination not earlier ok."
    )
    rows.append((60, "https://other.net/c", 99, contaminated, "en"))
    spark.createDataFrame(
        rows, "doc_id long, url string, ts long, text string, lang string"
    ).write.parquet(docs_path)
    spark.createDataFrame(
        [(0, "the leaked benchmark passage alpha beta gamma delta epsilon zeta eta theta text")],
        "doc_id long, text string",
    ).write.parquet(bench_path)
    return docs_path, bench_path


def _web_cfg(bench_path, span_k=12):
    return CurationConfig(
        rates={"en": 1.0},
        default_rate=1.0,
        minhash_threshold=0.9,
        url_col="url",
        ts_col="ts",
        line_filter=True,
        boilerplate=True,
        boilerplate_min_pages=2,
        boilerplate_min_frac=0.5,
        span_k=span_k,
        benchmark_path=bench_path,
        bloom_bits=1 << 14,
    )


def test_web_stage_chain_and_funnel(spark, tmp_path, web_corpus):
    docs_path, bench_path = web_corpus
    cat = TableCatalog(spark, str(tmp_path / "whw"))
    pipe = CurationPipeline(spark, cat, docs_path, _web_cfg(bench_path))
    assert pipe.stages() == (
        "url_canon", "latest_capture", "gate", "line_filter",
        "boilerplate", "spans", "exact", "neardup", "decontaminate",
        "sample",
    )
    out = pipe.run()
    funnel = out["funnel"]
    assert funnel["input"] == 22
    assert funnel["url_canon"] == 22  # annotation only, no drop
    assert funnel["latest_capture"] == 21  # older capture of p0 dropped
    assert funnel["decontaminate"] == 20  # doc 60 contaminated
    assert funnel["sample"] == funnel["decontaminate"]  # rate 1.0

    # url_canon appended canonical columns
    uc = cat.read("url_canon")
    assert {"canon_url", "registered_domain"} <= set(uc.columns)
    assert uc.where(uc.registered_domain == "site.co.uk").count() == 21

    # the boilerplate footer line is gone from every surviving doc, the
    # body line survived, and the junk line died at the line filter
    texts = {r.doc_id: r.text for r in cat.read("boilerplate").collect()}
    assert all("copyright example" not in t for t in texts.values())
    assert all("\nno" not in t for t in texts.values())
    assert all(GOOD.split()[0] in t for t in texts.values())

    # duplicate-span removal: the shared 12-token span survives only in
    # its global first occurrence (min doc id among survivors)
    spans = {r.doc_id: r.text for r in cat.read("spans").collect()}
    keepers = [i for i, t in sorted(spans.items()) if SPAN in t]
    assert keepers == [min(spans)]


def test_web_stage_suffix_invalidation(spark, tmp_path, web_corpus):
    """Changing span_k reruns exactly spans + its suffix; the prefix
    (url_canon .. boilerplate) is untouched."""
    docs_path, bench_path = web_corpus
    cat = TableCatalog(spark, str(tmp_path / "whs"))
    pipe = CurationPipeline(spark, cat, docs_path, _web_cfg(bench_path))
    pipe.run()
    stamps1 = {m["table"]: m["written_at_epoch"] for m in cat.metrics()}

    pipe2 = CurationPipeline(
        spark, cat, docs_path, _web_cfg(bench_path, span_k=11)
    )
    pipe2.run()
    stamps2 = {m["table"]: m["written_at_epoch"] for m in cat.metrics()}
    prefix = ("url_canon", "latest_capture", "gate", "line_filter", "boilerplate")
    for s in prefix:
        assert stamps2[s] == stamps1[s], s
    for s in ("spans", "exact", "neardup", "decontaminate", "sample"):
        assert stamps2[s] != stamps1[s], s


def test_web_pipeline_equals_manual_chain(spark, tmp_path, web_corpus):
    """The checkpointed pipeline output is row-identical to manually
    chaining the operators in the same order (r4 verdict #4's done
    criterion)."""
    from pyspark.sql import functions as F

    from entity_resolution_pipeline_spark.operators.clustering import (
        connected_components,
    )
    from entity_resolution_pipeline_spark.operators.corpus import (
        c4_line_filter,
        c4_quality_gate,
        flag_contamination,
        remove_duplicate_spans,
        stratified_sample,
    )
    from entity_resolution_pipeline_spark.operators.dedup import (
        dedup_exact,
        minhash_near_duplicates,
    )
    from entity_resolution_pipeline_spark.operators.weburl import (
        boilerplate_lines,
        latest_capture,
        url_canonicalize,
    )

    docs_path, bench_path = web_corpus
    cfg = _web_cfg(bench_path)
    cat = TableCatalog(spark, str(tmp_path / "whm"))
    pipe = CurationPipeline(spark, cat, docs_path, cfg)
    pipe.run()

    docs = spark.read.parquet(docs_path)
    up = docs.join(
        url_canonicalize(docs).select("doc_id", "canon_url", "registered_domain"),
        "doc_id",
    )
    up = up.join(
        latest_capture(up, url_col="canon_url").select("doc_id"),
        "doc_id", "left_semi",
    )
    up = up.join(
        c4_quality_gate(up).where(F.col("keep")).select("doc_id"),
        "doc_id", "left_semi",
    )
    up = up.drop("text").join(
        c4_line_filter(up).where(F.col("keep_page")).select("doc_id", "text"),
        "doc_id",
    )
    up = up.drop("text").join(
        boilerplate_lines(
            up, min_pages=cfg.boilerplate_min_pages,
            min_frac=cfg.boilerplate_min_frac,
        ).select("doc_id", "text"),
        "doc_id",
    )
    # break lineage as the checkpointed pipeline does by materializing
    # each stage — the accumulated single-plan tree otherwise exceeds
    # the test driver's heap during canonicalization
    up = up.localCheckpoint(eager=True)
    up = up.drop("text").join(
        remove_duplicate_spans(up, k=cfg.span_k).select("doc_id", "text"),
        "doc_id",
    )
    up = up.localCheckpoint(eager=True)
    up = dedup_exact(up, "text", "doc_id")
    pairs = minhash_near_duplicates(up, threshold=cfg.minhash_threshold)
    labels = connected_components(
        pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    )
    up = up.join(
        labels.where(F.col("id") != F.col("component_id")).select(
            F.col("id").alias("doc_id")
        ),
        "doc_id", "left_anti",
    )
    bench = spark.read.parquet(bench_path)
    up = up.join(
        flag_contamination(up, bench, bloom_bits=cfg.bloom_bits)
        .where(~F.col("contaminated")).select("doc_id"),
        "doc_id", "left_semi",
    )
    manual = stratified_sample(
        up, cfg.rates, stratum_col="lang", key_col="doc_id",
        default_rate=cfg.default_rate,
    )

    cols = sorted(manual.columns)
    got = sorted(map(tuple, cat.read("sample").select(*cols).collect()))
    want = sorted(map(tuple, manual.select(*cols).collect()))
    assert got == want and len(got) > 0
