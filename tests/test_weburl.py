from __future__ import annotations

import pytest


def _canon(spark, urls):
    from entity_resolution_pipeline_spark.operators.weburl import (
        url_canonicalize,
    )

    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "doc_id long, url string"
    )
    return {r.doc_id: r for r in url_canonicalize(df).collect()}


def test_url_canonicalize_rules(spark):
    got = _canon(
        spark,
        [
            "HTTP://WWW.Example.COM:80/A/b/Page?utm_source=x&z=1&a=2#frag",
            "https://news.site.co.uk:8443/x/",
            "https://cdn.example.net",
            "http://example.com/?fbclid=abc123",
            "https://Example.org/p?ref=hn&refx=1&b",
        ],
    )
    r = got[0]
    # scheme+host lowercased, www+default port stripped, fragment and
    # utm_* dropped, params sorted, path case preserved
    assert r.canon_url == "http://example.com/A/b/Page?a=2&z=1"
    assert r.host == "example.com" and r.registered_domain == "example.com"
    assert r.path_depth == 3
    r = got[1]  # non-default port kept; co.uk suffix heuristic
    assert r.canon_url == "https://news.site.co.uk:8443/x/"
    assert r.registered_domain == "site.co.uk"
    r = got[2]  # empty path -> "/", depth 0
    assert r.canon_url == "https://cdn.example.net/"
    assert r.path_depth == 0 and r.registered_domain == "example.net"
    # all-tracking query vanishes entirely (no trailing "?")
    assert got[3].canon_url == "http://example.com/"
    # "ref" dropped, "refx=1" and bare "b" kept, sorted
    assert got[4].canon_url == "https://example.org/p?b&refx=1"


def test_registered_domain_public_suffix_snapshot(spark):
    """r5: the embedded PSL snapshot resolves co.uk/com.au/github.io-
    class suffixes exactly; the r4 heuristic remains the fallback for
    unlisted 2-letter ccTLDs; only hosts of two labels pass through."""
    got = _canon(
        spark,
        [
            "https://deep.sub.shop.co.uk/x",  # PSL2: reg = shop.co.uk
            "https://www.news.com.au/story",  # PSL2: reg = news.com.au
            "https://user.github.io/repo",  # private PSL2
            "https://myapp.blogspot.com/post",  # private PSL2
            "https://bucket.s3.amazonaws.com/key",  # PSL3: 4 labels
            "https://a.b.k12.ma.us/",  # PSL3 (3-label ICANN)
            "https://foo.gov.xy/",  # unlisted ccTLD -> heuristic
            "https://plain.example.com/",  # generic: last two
            "https://github.io/",  # host IS a suffix: unchanged
            "https://co.uk/",  # 2 labels: unchanged
            "https://k12.ma.us/",  # 3-label suffix: cut like any host
            "https://s3.amazonaws.com/key",  # 3-label suffix: cut
        ],
    )
    assert got[0].registered_domain == "shop.co.uk"
    assert got[1].registered_domain == "news.com.au"
    assert got[2].registered_domain == "user.github.io"
    assert got[3].registered_domain == "myapp.blogspot.com"
    assert got[4].registered_domain == "bucket.s3.amazonaws.com"
    assert got[5].registered_domain == "b.k12.ma.us"
    assert got[6].registered_domain == "foo.gov.xy"
    assert got[7].registered_domain == "example.com"
    assert got[8].registered_domain == "github.io"
    assert got[9].registered_domain == "co.uk"
    assert got[10].registered_domain == "ma.us"
    assert got[11].registered_domain == "amazonaws.com"


def test_host_stats_dup_rate(spark):
    from entity_resolution_pipeline_spark.operators.weburl import host_stats

    df = spark.createDataFrame(
        [
            (1, "https://a.example.com/1", "same text"),
            (2, "https://b.example.com/2", "same text"),
            (3, "https://www.example.com/3", "other"),
            (4, "https://solo.org/x", "unique"),
        ],
        "doc_id long, url string, text string",
    )
    got = {r.registered_domain: r for r in host_stats(df).collect()}
    ex = got["example.com"]
    # www. strips to the bare host: a., b., and bare example.com
    assert (ex.n_docs, ex.n_hosts, ex.n_unique_texts) == (3, 3, 2)
    assert ex.dup_rate == pytest.approx(1 - 2 / 3, abs=1e-6)
    assert got["solo.org"].dup_rate == 0.0


def test_bloom_prefilter_no_false_negatives(spark):
    from entity_resolution_pipeline_spark.operators.bloom import (
        bloom_bitmap,
        bloom_prefilter,
    )

    members = spark.range(0, 200).selectExpr("md5(cast(id as string)) as h")
    probe = spark.range(0, 2000).selectExpr("md5(cast(id as string)) as h")
    bm = bloom_bitmap(members, "h", n_bits=1 << 14, k=4)
    kept = set(r.h for r in bloom_prefilter(probe, "h", bm, 1 << 14, 4).collect())
    want = set(r.h for r in members.collect())
    assert want <= kept  # every true member survives
    # and the filter actually filters (fp rate far below 50%)
    assert len(kept) < 1000


def test_boilerplate_lines_per_domain(spark):
    from entity_resolution_pipeline_spark.operators.weburl import (
        boilerplate_lines,
    )

    footer = "copyright acme all rights reserved"
    df = spark.createDataFrame(
        [
            (1, "https://a.acme.com/1", f"unique alpha\n{footer}\nmore alpha"),
            (2, "https://b.acme.com/2", f"unique beta\n {footer} "),
            (3, "https://acme.com/3", f"unique gamma\n{footer}"),
            # same footer text on ANOTHER domain with only one page:
            # below min_pages there, so it survives
            (4, "https://solo.org/x", f"solo text\n{footer}"),
            (5, "https://empty.org/", ""),
        ],
        "doc_id long, url string, text string",
    )
    got = {
        r.doc_id: r
        for r in boilerplate_lines(df, min_pages=2, min_frac=0.5).collect()
    }
    assert got[1].text == "unique alpha\nmore alpha"
    assert got[1].n_lines == 3 and got[1].n_removed == 1
    # footer matched on TRIMMED text
    assert got[2].text == "unique beta" and got[2].n_removed == 1
    assert got[3].text == "unique gamma"
    assert got[1].registered_domain == "acme.com"
    # other domain: footer kept (1 page < min_pages)
    assert got[4].text == f"solo text\n{footer}" and got[4].n_removed == 0
    # line-less doc retained with zeros
    assert got[5].text == "" and got[5].n_lines == 0


def test_latest_capture_newest_wins(spark):
    from entity_resolution_pipeline_spark.operators.weburl import (
        latest_capture,
    )

    df = spark.createDataFrame(
        [
            # same canonical URL three ways; ts 30 wins
            (1, "HTTP://WWW.Site.COM:80/a?utm_source=x", 10),
            (2, "http://site.com/a", 30),
            (3, "http://site.com/a#frag", 20),
            # tie on ts -> max id wins
            (4, "https://other.org/p", 7),
            (5, "https://other.org/p", 7),
            (6, "https://third.net/q", 1),
        ],
        "doc_id long, url string, ts long",
    )
    got = {r.canon_url: r for r in latest_capture(df).collect()}
    r = got["http://site.com/a"]
    assert (r.doc_id, r.ts, r.n_captures) == (2, 30, 3)
    r = got["https://other.org/p"]
    assert (r.doc_id, r.ts, r.n_captures) == (5, 7, 2)
    assert got["https://third.net/q"].n_captures == 1


def test_latest_capture_null_ts(spark):
    """NULL ts = oldest: loses to any known ts, but an all-NULL URL
    still yields a row (null-safe join — ADVICE r4)."""
    from entity_resolution_pipeline_spark.operators.weburl import (
        latest_capture,
    )

    df = spark.createDataFrame(
        [
            # mixed: the non-NULL ts wins even though the NULL row has max id
            (1, "http://mixed.com/a", 5),
            (9, "http://mixed.com/a", None),
            # all-NULL: must still emit a row, max id, ts NULL
            (2, "http://allnull.com/b", None),
            (3, "http://allnull.com/b", None),
        ],
        "doc_id long, url string, ts long",
    )
    got = {r.canon_url: r for r in latest_capture(df).collect()}
    r = got["http://mixed.com/a"]
    assert (r.doc_id, r.ts, r.n_captures) == (1, 5, 2)
    r = got["http://allnull.com/b"]
    assert (r.doc_id, r.ts, r.n_captures) == (3, None, 2)


def test_latest_capture_null_url(spark):
    """A capture with a NULL URL is nobody's re-crawl: each one comes
    back as its own row with n_captures = 1."""
    from entity_resolution_pipeline_spark.operators.weburl import (
        latest_capture,
    )

    df = spark.createDataFrame(
        [
            (1, None, 5),
            (2, None, 9),
            (3, "http://site.com/a", 1),
            (4, "http://site.com/a", 2),
        ],
        "doc_id long, url string, ts long",
    )
    got = [
        (r.canon_url, r.doc_id, r.ts, r.n_captures)
        for r in latest_capture(df).collect()
    ]
    assert len(got) == 3
    assert set(got) == {(None, 1, 5, 1), (None, 2, 9, 1), ("http://site.com/a", 4, 2, 2)}


def test_scheme_less_urls_keep_raw_canon(spark):
    """Without a scheme:// prefix the raw URL is its own canonical key,
    so two different scheme-less URLs are not merged."""
    from entity_resolution_pipeline_spark.operators.weburl import (
        latest_capture,
    )

    got = _canon(spark, ["example.com/a?b=1", "/relative/path"])
    assert got[0].canon_url == "example.com/a?b=1"
    assert got[1].canon_url == "/relative/path"

    df = spark.createDataFrame(
        [(1, "example.com/a", 1), (2, "other.org/b", 2), (3, "example.com/a", 3)],
        "doc_id long, url string, ts long",
    )
    got = {r.canon_url: r for r in latest_capture(df).collect()}
    assert set(got) == {"example.com/a", "other.org/b"}
    assert (got["example.com/a"].doc_id, got["example.com/a"].n_captures) == (3, 2)
    assert (got["other.org/b"].doc_id, got["other.org/b"].n_captures) == (2, 1)
