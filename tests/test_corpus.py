"""Corpus-curation operators: deterministic sampling, repetition
signals, C4-style gating, per-source triage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_resolution_pipeline_spark.config import STOPWORDS
from entity_resolution_pipeline_spark.operators.corpus import (
    c4_quality_gate,
    exact_k_sample,
    repetition_stats,
    source_stats,
    stratified_sample,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(30)), ("en", "de", "zh")[i % 3], f"src{i % 4}")
        for i in range(300)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).cache()


def test_stratified_sample_deterministic_and_rate_ordered(docs):
    kept1 = {r.doc_id for r in stratified_sample(docs, {"en": 0.5, "de": 0.2}, default_rate=0.05).collect()}
    kept2 = {r.doc_id for r in stratified_sample(docs, {"en": 0.5, "de": 0.2}, default_rate=0.05).collect()}
    assert kept1 == kept2  # resume-safe: same rows, same decisions
    by_lang = {r.lang: r.cnt for r in docs.where(F.col("doc_id").isin(list(kept1))).groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    n = {r.lang: r.cnt for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    # binomial 100-sample rates: generous bounds, but ordering must hold
    assert by_lang.get("en", 0) / n["en"] > by_lang.get("de", 0) / n["de"] > by_lang.get("zh", 0) / n["zh"]
    # rate 0 drops everything; rate 1 keeps everything
    assert stratified_sample(docs, {}, default_rate=0.0).count() == 0
    assert stratified_sample(docs, {}, default_rate=1.0).count() == docs.count()


def test_stratified_sample_independent_salts(docs):
    a = {r.doc_id for r in stratified_sample(docs, {}, default_rate=0.3, salt="a").collect()}
    b = {r.doc_id for r in stratified_sample(docs, {}, default_rate=0.3, salt="b").collect()}
    assert a != b  # different salts → different (deterministic) picks


def test_exact_k_sample_counts_and_determinism(docs):
    out = exact_k_sample(docs, k=7).groupBy("lang").agg(F.count("*").alias("cnt"))
    assert {r.lang: r.cnt for r in out.collect()} == {"en": 7, "de": 7, "zh": 7}
    # k above stratum size → whole stratum
    small = docs.where(F.col("doc_id") < 5)
    assert exact_k_sample(small, k=100).count() == 5
    ids1 = sorted(r.doc_id for r in exact_k_sample(docs, k=7).collect())
    ids2 = sorted(r.doc_id for r in exact_k_sample(docs, k=7).collect())
    assert ids1 == ids2


def test_exact_k_sample_prefilter_identical(docs):
    """The mega-stratum prefilter path must return EXACTLY the naive
    ranking's rows — including when the prefilter undershoots k for
    some stratum (the re-rank fallback) — at any rate."""
    naive = sorted((r.lang, r.doc_id) for r in exact_k_sample(docs, k=7).collect())
    for rate in (0.9, 0.2, 0.05, 0.001):  # 0.001 keeps ~0 rows -> full fallback
        fast = sorted(
            (r.lang, r.doc_id)
            for r in exact_k_sample(docs, k=7, prefilter_rate=rate).collect()
        )
        assert fast == naive, rate


def test_repetition_stats_hand_example(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a b"),          # 4 words, 2 distinct, top 'a'=3
            (2, "x y z"),            # no repetition
            (3, "spam spam spam spam"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert got[1].n_words == 4
    assert got[1].dup_word_frac == pytest.approx(0.5)
    assert got[1].top_word_frac == pytest.approx(0.75)
    assert got[2].dup_word_frac == 0.0 and got[2].top_word_frac == pytest.approx(1 / 3, abs=1e-6)
    assert got[3].dup_word_frac == pytest.approx(0.75) and got[3].top_word_frac == 1.0


def test_c4_gate_each_rule(spark):
    long_good = "the quick brown fox jumps over the lazy dog and then rests in the warm afternoon sun for a while"
    rows = [
        (1, long_good),                          # passes everything
        (2, "short text"),                       # len + words fail
        (3, "the " * 30),                        # dup but rules: words ok, mwl 3.0 ok, stopword high
        (4, " ".join(["zzzzzzzzzzzzzzzz"] * 12)),  # mwl too high + no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in c4_quality_gate(df).collect()}
    assert got[1].keep
    assert not got[2].len_ok and not got[2].words_ok and not got[2].keep
    assert not got[4].mwl_ok and not got[4].stop_ok and not got[4].keep
    # per-rule columns are consistent with keep
    for r in got.values():
        assert r.keep == (r.len_ok and r.words_ok and r.mwl_ok and r.stop_ok)


def test_source_stats(docs):
    got = {r.source: r for r in source_stats(docs).collect()}
    assert set(got) == {f"src{i}" for i in range(4)}
    assert all(r.n_docs == 75 for r in got.values())
    assert all(r.n_langs == 3 for r in got.values())
    one = docs.where(F.col("source") == "src0").agg(
        F.sum(F.length("text")).alias("s")
    ).collect()[0].s
    assert got["src0"].total_chars == one


def test_paragraph_dedup_cross_document(spark):
    """CCNet-style paragraph dedup: global first occurrence (by doc id,
    position) survives; later copies drop, text rebuilt in order."""
    from entity_resolution_pipeline_spark.operators.corpus import paragraph_dedup

    df = spark.createDataFrame(
        [
            (1, "alpha one\nshared boilerplate\nalpha two"),
            (2, "shared boilerplate\nbeta one"),
            (3, "gamma only\nshared boilerplate\nbeta one\ngamma end"),
            (4, "shared boilerplate"),  # fully-duplicate doc → empty text
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in paragraph_dedup(df).collect()}
    assert got[1].text == "alpha one\nshared boilerplate\nalpha two"
    assert got[1].n_dropped == 0
    assert got[2].text == "beta one" and got[2].n_dropped == 1
    assert got[3].text == "gamma only\ngamma end" and got[3].n_dropped == 2
    assert got[4].text == "" and got[4].n_paras == 1 and got[4].n_dropped == 1
    # within-document repeats also collapse to the first occurrence
    df2 = spark.createDataFrame([(9, "x\ny\nx\nx")], "doc_id long, text string")
    r = paragraph_dedup(df2).collect()[0]
    assert r.text == "x\ny" and r.n_dropped == 2


def test_paragraph_dedup_keeps_paragraphless_docs(spark):
    """ADVICE r3: docs whose text has no non-empty paragraph must still
    appear in the output (text='', n_paras=0, n_dropped=0) so callers
    can join the annotation back without losing rows."""
    from entity_resolution_pipeline_spark.operators.corpus import paragraph_dedup

    df = spark.createDataFrame(
        [(1, "real paragraph"), (2, ""), (3, "   \n  \n"), (4, "\n\n")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in paragraph_dedup(df).collect()}
    assert set(got) == {1, 2, 3, 4}
    for i in (2, 3, 4):
        assert got[i].text == "" and got[i].n_paras == 0 and got[i].n_dropped == 0
    assert got[1].text == "real paragraph" and got[1].n_paras == 1


def test_blank_docs_report_zero_words(spark):
    """split('') yields [''] in Spark — the operators must strip it so
    blank docs report n_words=0, not a phantom 1-token document."""
    from entity_resolution_pipeline_spark.operators.corpus import (
        c4_quality_gate,
        repetition_stats,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one real doc here")],
        "doc_id long, text string",
    )
    rep = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert rep[1].n_words == 0 and rep[1].top_word_frac == 0.0
    assert rep[2].n_words == 0 and rep[2].dup_word_frac == 0.0
    assert rep[3].n_words == 4
    gate = {r.doc_id: r for r in c4_quality_gate(df).collect()}
    assert gate[1].n_words == 0 and not gate[1].keep
    assert gate[2].n_words == 0 and gate[2].mean_word_len == 0.0


def test_token_budget_sample(docs):
    """Whole-document token quota per stratum in deterministic order:
    running total never exceeds the budget, the next doc in order
    would, and the pick is deterministic."""
    from entity_resolution_pipeline_spark.operators.corpus import (
        token_budget_sample,
    )

    out = token_budget_sample(docs, 200)  # each doc has 30 tokens
    rows = out.collect()
    per = {}
    for r in rows:
        assert r.n_tokens == 30
        per.setdefault(r.lang, []).append(r.cum_tokens)
    # 200 // 30 = 6 whole docs per stratum, cumsum maxes at 180
    for lang, cums in per.items():
        assert len(cums) == 6 and max(cums) == 180, lang
    again = {(r.lang, r.doc_id) for r in token_budget_sample(docs, 200).collect()}
    assert again == {(r.lang, r.doc_id) for r in rows}
    # budget below one doc -> empty; huge budget -> everything
    assert token_budget_sample(docs, 29).count() == 0
    assert token_budget_sample(docs, 10**9).count() == docs.count()


def test_exact_k_sample_prefilter_null_stratum(spark):
    """NULL strata must survive the prefilter path identically to the
    naive path (a plain equi-join would silently drop them from the
    undershoot re-rank)."""
    from entity_resolution_pipeline_spark.operators.corpus import exact_k_sample

    rows = [(i, "x " * 5, None if i % 3 == 0 else "en") for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    naive = {(r.lang, r.doc_id) for r in exact_k_sample(df, k=7).collect()}
    assert sum(1 for lang, _ in naive if lang is None) == 7
    for rate in (0.2, 0.001):
        fast = {
            (r.lang, r.doc_id)
            for r in exact_k_sample(df, k=7, prefilter_rate=rate).collect()
        }
        assert fast == naive, rate


def test_shingle_overlap_stats(spark):
    from entity_resolution_pipeline_spark.operators.corpus import (
        shingle_overlap_stats,
    )

    df = spark.createDataFrame(
        [
            (1, "the common boilerplate footer text plus alpha beta gamma"),
            (2, "the common boilerplate footer text plus delta epsilon zeta"),
            (3, "totally unrelated content with nothing shared at all here"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in shingle_overlap_stats(df).collect()}
    # docs 1/2 share the 4 shingles of the common 6-word prefix
    assert got[1].n_shared == 4 and got[2].n_shared == 4
    assert got[3].n_shared == 0 and got[3].shared_frac == 0.0
    assert 0 < got[1].shared_frac < 1


def test_flag_contamination(spark):
    from entity_resolution_pipeline_spark.operators.corpus import (
        flag_contamination,
    )

    bench = spark.createDataFrame(
        [(100, "what is the capital of france and why does it matter")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "other text then what is the capital of france appears verbatim"),
            (2, "completely clean document with original phrasing throughout"),
            (3, "tiny"),  # < n tokens: zero shingles, must still appear
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in flag_contamination(train, bench).collect()}
    assert set(got) == {1, 2, 3}  # full annotation, no dropped rows
    assert got[1].contaminated and got[1].n_hits >= 4
    assert not got[2].contaminated and got[2].n_hits == 0
    assert not got[3].contaminated
    # min_hits raises the bar
    strict = {
        r.doc_id: r for r in flag_contamination(train, bench, min_hits=100).collect()
    }
    assert not any(r.contaminated for r in strict.values())


def test_gate_and_repetition_values_mixed_lengths(spark):
    """repetition_stats and c4_quality_gate against plain-Python values
    on mixed-length input: empty, whitespace-only, repeated-token,
    5k-token (heavy-tailed vocabulary plus stopwords) and mixed-case
    docs (the stopword test is case-sensitive)."""
    from collections import Counter

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, ""),  # zero tokens
        (3, "   \t  "),  # whitespace-only
        (4, "spam spam spam spam spam"),  # degenerate repetition
        (5, " ".join(
            ("the" if i % 7 == 0 else f"w{(i * i) % 997}") for i in range(5000)
        )),
        (6, "a single And Some UPPER case Mix of the usual words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rep = {r.doc_id: r for r in repetition_stats(df).collect()}
    gate = {r.doc_id: r for r in c4_quality_gate(df).collect()}
    assert set(rep) == set(gate) == {i for i, _ in rows}
    stop = set(STOPWORDS)
    for i, text in rows:
        toks = text.split()
        n = len(toks)
        counts = Counter(toks)
        frac = (lambda x: x / n) if n else (lambda x: 0.0)
        assert rep[i].n_words == gate[i].n_words == n, i
        assert rep[i].dup_word_frac == pytest.approx(
            frac(n - len(counts)), abs=1e-6
        ), i
        assert rep[i].top_word_frac == pytest.approx(
            frac(max(counts.values(), default=0)), abs=1e-6
        ), i
        assert gate[i].stopword_frac == pytest.approx(
            frac(sum(t in stop for t in toks)), abs=1e-6
        ), i
        assert gate[i].mean_word_len == pytest.approx(
            frac(sum(map(len, toks))), abs=1e-6
        ), i
        assert gate[i].n_chars_text == len(text), i
    assert gate[6].stopword_frac == pytest.approx(4 / 12, abs=1e-6)
    assert gate[5].keep and gate[6].keep and not gate[1].keep


def test_exact_k_sample_auto_prefilter_identical(docs, spark):
    """prefilter_rate='auto' must match the naive ranking exactly —
    across skewed strata sizes and a NULL stratum (r3 VERDICT Next #7)."""
    naive = sorted((r.lang, r.doc_id) for r in exact_k_sample(docs, k=7).collect())
    auto = sorted(
        (r.lang, r.doc_id)
        for r in exact_k_sample(docs, k=7, prefilter_rate="auto").collect()
    )
    assert auto == naive

    # skew: one mega-stratum (900 rows), one tiny (3), one NULL (40)
    rows = (
        [(i, "en") for i in range(900)]
        + [(10_000 + i, "zz") for i in range(3)]
        + [(20_000 + i, None) for i in range(40)]
    )
    skewed = spark.createDataFrame(rows, "doc_id long, lang string")
    key = lambda t: (t[0] is None, t)  # NULL stratum sorts last
    want = sorted(
        ((r.lang, r.doc_id) for r in exact_k_sample(skewed, k=5).collect()),
        key=key,
    )
    got = sorted(
        (
            (r.lang, r.doc_id)
            for r in exact_k_sample(
                skewed, k=5, prefilter_rate="auto"
            ).collect()
        ),
        key=key,
    )
    assert got == want
    by = {}
    for lang, _ in got:
        by[lang] = by.get(lang, 0) + 1
    assert by == {"en": 5, "zz": 3, None: 5}


def test_contamination_spans_planted_run(spark):
    from entity_resolution_pipeline_spark.operators.corpus import (
        contamination_spans,
    )

    bench = spark.createDataFrame(
        [(100, "what is the capital of france and why does it matter")],
        "doc_id long, text string",
    )
    # doc 1: verbatim 8-token benchmark span → 6 contiguous 3-gram hits.
    # doc 2: two ISOLATED hits (shingle matches split by clean text) —
    #        n_hit_positions 2 but max run 1 → NOT contaminated.
    # doc 3: clean.  doc 4: < n tokens (zero shingles).
    train = spark.createDataFrame(
        [
            (1, "intro words then what is the capital of france and why trailing"),
            (2, "what is the unrelated filler text here capital of france again"),
            (3, "completely clean document with original phrasing throughout"),
            (4, "tiny"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in contamination_spans(train, bench).collect()}
    assert set(got) == {1, 2, 3, 4}  # spine join: every train doc present
    assert got[1].contaminated and got[1].max_hit_run >= 6
    assert got[2].n_hit_positions == 2 and got[2].max_hit_run == 1
    assert not got[2].contaminated  # bag-of-shingles would have flagged it
    assert got[3].max_hit_run == 0 and not got[3].contaminated
    assert got[4].max_hit_run == 0 and not got[4].contaminated
    # min_run=1 degrades to the bag-of-shingles criterion
    loose = {
        r.doc_id: r
        for r in contamination_spans(train, bench, min_run=1).collect()
    }
    assert loose[2].contaminated


def test_dup_ngram_stats_known_fractions(spark):
    from entity_resolution_pipeline_spark.operators.corpus import dup_ngram_stats

    docs = spark.createDataFrame(
        [
            # bigrams of "a b a b c": "a b"x2, "b a", "b c"; mass=9
            (1, "a b a b c"),
            (2, "one"),  # < 2 tokens: zero rows for both n
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.n): r for r in dup_ngram_stats(docs, ns=(2, 5)).collect()
    }
    assert set(got) == {(1, 2), (1, 5), (2, 2), (2, 5)}
    assert got[(1, 2)].top_ngram_char_frac == pytest.approx(6 / 9, abs=1e-6)
    assert got[(1, 2)].dup_ngram_char_frac == pytest.approx(6 / 9, abs=1e-6)
    # exactly one 5-gram (the whole doc): top covers everything, dup none
    assert got[(1, 5)].top_ngram_char_frac == pytest.approx(1.0, abs=1e-6)
    assert got[(1, 5)].dup_ngram_char_frac == 0.0
    for n in (2, 5):
        assert got[(2, n)].top_ngram_char_frac == 0.0
        assert got[(2, n)].dup_ngram_char_frac == 0.0


def test_pii_scrub_counts_and_redaction(spark):
    from entity_resolution_pipeline_spark.operators.scrub import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail j.doe9@corp.example.com ip 192.168.0.1 tel +44 20 7946 0958"),
            (2, "no pii here, order #5551234567 shipped 2026-08-17"),
            (3, "two mails: a@b.co and c@d.org"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in pii_scrub(docs).collect()}
    r1 = got[1]
    assert (r1.n_email, r1.n_ipv4, r1.n_phone, r1.n_pii) == (1, 1, 1, 3)
    assert "<EMAIL>" in r1.scrubbed and "<IP>" in r1.scrubbed
    assert "<PHONE>" in r1.scrubbed
    assert "example.com" not in r1.scrubbed and "192.168" not in r1.scrubbed
    # conservative phone rule: bare digit runs and dates are NOT PII
    r2 = got[2]
    assert (r2.n_email, r2.n_ipv4, r2.n_phone, r2.n_pii) == (0, 0, 0, 0)
    assert "5551234567" in r2.scrubbed and "2026-08-17" in r2.scrubbed
    assert got[3].n_email == 2 and got[3].scrubbed.count("<EMAIL>") == 2


def test_pii_scrub_new_kinds_planted(spark):
    """r5 kinds (ipv6 / iban / ssn): planted true positives redact and
    count; shaped near-misses are left alone (documented precision)."""
    from entity_resolution_pipeline_spark.operators.scrub import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "addr 2001:0db8:85a3:0:0:8a2e:370:7334 up"),  # ipv6 TP
            (2, "meeting at 12:30:45 room 4"),  # ipv6 FP-shape: too few groups
            (3, "wire DE89370400440532013000 today"),  # iban TP
            (4, "flight DE89 to PARIS gate B2"),  # iban FP-shape: too short
            (5, "ssn 123-45-6789 leaked"),  # ssn TP
            (6, "part 1234-56-7890 and 12-34-5678"),  # ssn FP-shapes
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert got[1].n_ipv6 == 1 and "<IP6>" in got[1].scrubbed
    assert "7334" not in got[1].scrubbed
    assert got[2].n_ipv6 == 0 and "12:30:45" in got[2].scrubbed
    assert got[3].n_iban == 1 and "<IBAN>" in got[3].scrubbed
    assert got[4].n_iban == 0 and "DE89" in got[4].scrubbed
    assert got[5].n_ssn == 1 and "<SSN>" in got[5].scrubbed
    assert got[6].n_ssn == 0 and "1234-56-7890" in got[6].scrubbed


def test_pii_scrub_sequential_counts_match_sentinels(spark):
    """ADVICE r4: counts are taken on the successively-scrubbed string,
    so a phone-shaped run inside an email local part counts zero and
    n_pii == total sentinels emitted."""
    from entity_resolution_pipeline_spark.operators.scrub import (
        PII_RULES,
        pii_scrub,
    )

    docs = spark.createDataFrame(
        [
            # +44 12345678 inside the email local part: email eats it
            (1, "write user+44 1234 5678@x.example.org soon"),
            # dotted-quad inside an email: ipv4 must count 0
            (2, "ping admin@10.1.2.34.example.net please"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in pii_scrub(docs).collect()}
    sentinels = {kind: repl for kind, _, repl in PII_RULES}
    for r in got.values():
        emitted = sum(r.scrubbed.count(sentinels[k]) for k in sentinels)
        assert r.n_pii == emitted, (r.doc_id, r.n_pii, emitted, r.scrubbed)
    assert got[2].n_ipv4 == 0 and got[2].n_email == 1


def test_flag_contamination_bloom_path_identical(spark):
    from entity_resolution_pipeline_spark.operators.corpus import (
        flag_contamination,
    )

    bench = spark.createDataFrame(
        [(100, "what is the capital of france and why does it matter")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "intro words then what is the capital of france and why end"),
            (2, "capital of france appears here in different framing text"),
            (3, "completely clean document with original phrasing throughout"),
            (4, "tiny"),
        ],
        "doc_id long, text string",
    )
    plain = sorted(map(tuple, flag_contamination(train, bench).collect()))
    bloom = sorted(
        map(
            tuple,
            flag_contamination(train, bench, bloom_bits=1 << 12).collect(),
        )
    )
    assert plain == bloom  # bloom is a prefilter: exact join removes FPs
    assert any(r[2] for r in plain) and not all(r[2] for r in plain)


def test_c4_line_filter_rules(spark):
    from entity_resolution_pipeline_spark.operators.corpus import (
        c4_line_filter,
    )

    docs = spark.createDataFrame(
        [
            # 3 good lines -> page kept, text rebuilt in order, trimmed
            (
                1,
                "this line ends with a period.\n"
                "  does this line have five words?  \n"
                'quoted line with enough words here."\n'
                "no terminal punctuation on this line\n"
                "short one.\n"
                "please enable JavaScript to continue reading now.\n",
            ),
            # good lines but page mentions lorem ipsum -> killed
            (2, "a fine sentence with many words.\nmore lorem ipsum text here."),
            # good lines but brace on page -> killed
            (3, "a fine sentence with many words.\nvar config = {x};"),
            # only 2 surviving lines -> below min_lines
            (4, "first proper sentence with five words.\nsecond proper sentence with five words."),
            # empty doc -> retained with zeros
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in c4_line_filter(docs).collect()}
    r = got[1]
    assert r.n_lines == 6 and r.n_kept == 3
    assert r.text.split("\n") == [
        "this line ends with a period.",
        "does this line have five words?",
        'quoted line with enough words here."',
    ]
    assert r.keep_page
    assert not got[2].keep_page and got[2].n_kept == 2
    assert not got[3].keep_page
    assert not got[4].keep_page and got[4].n_kept == 2
    assert got[5].n_lines == 0 and got[5].n_kept == 0 and not got[5].keep_page


def test_remove_duplicate_spans(spark):
    from entity_resolution_pipeline_spark.operators.corpus import (
        remove_duplicate_spans,
    )

    shared = "one two three four five"
    docs = spark.createDataFrame(
        [
            # first occurrence of the shared 5-gram: survives intact
            (1, f"alpha {shared} beta"),
            # later occurrence: the 5 covered tokens are removed
            (2, f"gamma {shared} delta"),
            # doc that IS exactly the shared span: fully erased
            (3, shared),
            # both copies are non-first GLOBALLY (doc 1 owns the
            # digest), so both spans vanish and only "mid" survives
            (4, f"{shared} mid {shared}"),
            # too short for any 5-shingle: untouched
            (5, "tiny little doc"),
            (6, ""),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in remove_duplicate_spans(docs, k=5).collect()}
    assert got[1].text == f"alpha {shared} beta" and got[1].n_removed == 0
    assert got[2].text == "gamma delta" and got[2].n_removed == 5
    assert got[3].text == "" and got[3].n_removed == 5
    assert got[4].text == "mid" and got[4].n_removed == 10
    assert got[5].text == "tiny little doc" and got[5].n_removed == 0
    assert got[6].text == "" and got[6].n_tokens == 0


def test_remove_duplicate_spans_edge_values(spark):
    """Literal (text, n_tokens, n_removed) per doc for k ∈ {3, 5},
    covering multi-byte utf-8 offsets in the window kernel, overlapping
    self-duplicates and the n == k / n < k edges.  Recorded when the
    Arrow kernel and an interpreted-HOF digest agreed on every row."""
    from entity_resolution_pipeline_spark.operators.corpus import (
        remove_duplicate_spans,
    )

    rep = " ".join(f"w{i % 7}" for i in range(40))  # self-repeating doc
    docs = spark.createDataFrame(
        [
            (1, f"héllo wörld {rep} naïve coöp"),  # multi-byte utf-8
            (2, rep),
            (3, f"{rep} tail one two"),
            (4, "exactly three tokens"),  # n == k
            (5, "short doc"),  # n < k
            (6, ""),
            (7, "  padded   whitespace   doc  x y z  "),
        ],
        "doc_id long, text string",
    )
    expected = {
        1: ("héllo wörld w0 w1 w2 w3 w4 w5 w6 naïve coöp", 44, 33),
        2: ("", 40, 40),
        3: ("tail one two", 43, 40),
        4: ("exactly three tokens", 3, 0),
        5: ("short doc", 2, 0),
        6: ("", 0, 0),
        7: ("padded whitespace doc x y z", 6, 0),
    }
    for k in (3, 5):
        got = {
            r.doc_id: (r.text, r.n_tokens, r.n_removed)
            for r in remove_duplicate_spans(docs, k=k).collect()
        }
        assert got == expected, (k, got)
