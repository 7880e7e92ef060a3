"""URL canonicalization and host-level corpus triage.

Common-Crawl-style curation (the north-rule input is a table of web
pages keyed by url) needs URLs normalized before any per-URL dedup or
per-host policy can work: the same page surfaces as
``HTTP://WWW.Site.COM:80/a?utm_source=feed&b=1#frag`` and
``http://site.com/a?b=1``.  Rules here are the standard ones (RFC 3986
normalization plus the tracking-parameter strip every crawl pipeline
applies), chosen to be expressible as pure JVM column expressions —
regexp parsing, array HOFs over the (short) query string — so the
whole operator is a zero-shuffle codegen'd projection, and the
identical logic runs in the DuckDB oracle.

Canonicalization contract (deterministic, documented):
- scheme and host lowercased; leading ``www.`` stripped from the host;
- default ports dropped (``:80`` for http, ``:443`` for https),
  non-default ports kept;
- fragment (``#...``) dropped;
- tracking query parameters dropped (``utm_*``, ``fbclid``, ``gclid``,
  ``msclkid``, ``ref``), remaining parameters sorted bytewise;
- empty path becomes ``/``; path case and trailing slashes preserved
  (paths are case-significant per RFC 3986).

``registered_domain`` resolves against an embedded TRIMMED snapshot of
the Public Suffix List (the ~270 most common ICANN ccTLD second-level
registrations plus well-known private-registry suffixes like
``github.io``/``blogspot.com``), falling back to the r4 heuristic
(known second-level label under a 2-letter ccTLD) for ccTLDs the
snapshot doesn't enumerate, then to last-two-labels.  A real
deployment swaps :data:`PUBLIC_SUFFIX_SNAPSHOT` for the full
publicsuffix.org list (same matching code); the embedded constant
keeps the operator dependency-free and oracle-portable — the DuckDB
twin interpolates the SAME tuple.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: second-level labels treated as part of the public suffix when the
#: top-level label is a 2-letter ccTLD (co.uk, ac.jp, gov.in, ...) —
#: the FALLBACK for ccTLDs the snapshot below doesn't enumerate
SECOND_LEVEL_SUFFIXES = ("co", "com", "ac", "gov", "org", "net", "edu")

#: trimmed snapshot of the Public Suffix List (publicsuffix.org —
#: public data): multi-label public suffixes matched EXACTLY before
#: the heuristic fallback.  2-label and 3-label entries only; the
#: registered domain is the matched suffix plus one more label.
PUBLIC_SUFFIX_SNAPSHOT: tuple[str, ...] = (
    # ICANN section — common ccTLD second-level registrations
    "co.uk", "org.uk", "me.uk", "ltd.uk", "plc.uk", "net.uk", "sch.uk",
    "ac.uk", "gov.uk", "nhs.uk", "police.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz",
    "geek.nz", "gen.nz", "kiwi.nz", "maori.nz",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp",
    "gr.jp", "lg.jp",
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "mil.br",
    "art.br", "blog.br", "eco.br", "emp.br", "inf.br",
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in",
    "nic.in", "ac.in", "edu.in", "res.in", "gov.in", "mil.in",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn", "mil.cn",
    "com.mx", "net.mx", "org.mx", "gob.mx", "edu.mx",
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar", "int.ar",
    "mil.ar", "tur.ar",
    "com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr", "av.tr",
    "bel.tr", "biz.tr", "dr.tr", "gen.tr", "info.tr", "k12.tr",
    "mil.tr", "name.tr", "pol.tr", "tel.tr", "tv.tr", "web.tr",
    "co.za", "net.za", "org.za", "gov.za", "edu.za", "ac.za",
    "law.za", "mil.za", "nom.za", "school.za", "web.za",
    "co.kr", "ne.kr", "or.kr", "re.kr", "pe.kr", "go.kr", "mil.kr",
    "ac.kr", "hs.kr", "ms.kr", "es.kr", "sc.kr", "kg.kr", "seoul.kr",
    "busan.kr",
    "com.sg", "net.sg", "org.sg", "gov.sg", "edu.sg", "per.sg",
    "com.my", "net.my", "org.my", "gov.my", "edu.my", "mil.my",
    "name.my",
    "com.hk", "net.hk", "org.hk", "gov.hk", "edu.hk", "idv.hk",
    "com.tw", "net.tw", "org.tw", "gov.tw", "edu.tw", "mil.tw",
    "idv.tw", "game.tw", "ebiz.tw", "club.tw",
    "co.th", "net.th", "org.th", "go.th", "ac.th", "in.th", "mi.th",
    "co.id", "net.id", "org.id", "go.id", "ac.id", "sch.id", "web.id",
    "my.id", "biz.id", "desa.id", "ponpes.id",
    "com.ph", "net.ph", "org.ph", "gov.ph", "edu.ph", "ngo.ph",
    "mil.ph", "i.ph",
    "com.vn", "net.vn", "org.vn", "gov.vn", "edu.vn", "int.vn",
    "ac.vn", "biz.vn", "info.vn", "name.vn", "pro.vn", "health.vn",
    "co.il", "net.il", "org.il", "gov.il", "ac.il", "muni.il",
    "idf.il", "k12.il",
    "com.sa", "net.sa", "org.sa", "gov.sa", "edu.sa", "med.sa",
    "pub.sa", "sch.sa",
    "com.eg", "net.eg", "org.eg", "gov.eg", "edu.eg", "sci.eg",
    "eun.eg", "mil.eg", "name.eg",
    "com.ng", "net.ng", "org.ng", "gov.ng", "edu.ng", "i.ng",
    "mil.ng", "mobi.ng", "name.ng", "sch.ng",
    "co.ke", "ne.ke", "or.ke", "go.ke", "ac.ke", "sc.ke", "me.ke",
    "mobi.ke", "info.ke",
    "com.pk", "net.pk", "org.pk", "gov.pk", "edu.pk", "fam.pk",
    "biz.pk", "web.pk",
    "com.bd", "net.bd", "org.bd", "gov.bd", "edu.bd", "ac.bd",
    "mil.bd",
    "co.ir", "net.ir", "org.ir", "gov.ir", "ac.ir", "id.ir", "sch.ir",
    "com.ua", "net.ua", "org.ua", "gov.ua", "edu.ua", "in.ua",
    "kiev.ua", "lviv.ua", "kharkov.ua", "odessa.ua",
    "co.at", "or.at", "ac.at", "gv.at", "priv.at",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "info.pl",
    "waw.pl", "biz.pl",
    "com.pt", "net.pt", "org.pt", "gov.pt", "edu.pt", "int.pt",
    "publ.pt", "nome.pt",
    "com.es", "nom.es", "org.es", "gob.es", "edu.es",
    "com.gr", "net.gr", "org.gr", "gov.gr", "edu.gr",
    "com.co", "net.co", "org.co", "gov.co", "edu.co", "mil.co",
    "nom.co",
    "com.pe", "net.pe", "org.pe", "gob.pe", "edu.pe", "mil.pe",
    "nom.pe",
    "com.ec", "net.ec", "org.ec", "gov.ec", "gob.ec", "edu.ec",
    "fin.ec", "info.ec", "med.ec", "mil.ec", "pro.ec",
    "com.uy", "net.uy", "org.uy", "gub.uy", "edu.uy", "mil.uy",
    "com.ve", "net.ve", "org.ve", "gob.ve", "edu.ve", "mil.ve",
    "web.ve", "co.ve", "info.ve",
    "gov.it", "edu.it",
    "co.bw", "co.ck", "co.cr", "co.zm", "co.zw", "co.mz", "co.tz",
    "co.ug", "co.ls",
    # private-registry section — well-known hosted-site suffixes
    "github.io", "gitlab.io", "bitbucket.io", "readthedocs.io",
    "blogspot.com", "appspot.com", "wordpress.com", "tumblr.com",
    "weebly.com", "wixsite.com", "firebaseapp.com", "onrender.com",
    "herokuapp.com", "azurewebsites.net", "cloudapp.net",
    "cloudfront.net", "netlify.app", "vercel.app", "web.app",
    "fly.dev", "pages.dev", "workers.dev", "repl.co", "glitch.me",
    "surge.sh", "now.sh", "neocities.org", "eu.org",
    # 3-label entries (matched before the 2-label pass)
    "s3.amazonaws.com", "compute.amazonaws.com", "elb.amazonaws.com",
    "k12.ma.us", "k12.ca.us", "cc.ca.us",
)

_PSL2: tuple[str, ...] = tuple(
    s for s in PUBLIC_SUFFIX_SNAPSHOT if s.count(".") == 1
)
_PSL3: tuple[str, ...] = tuple(
    s for s in PUBLIC_SUFFIX_SNAPSHOT if s.count(".") == 2
)

#: query parameters dropped during canonicalization
TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=|$)"


def _canon_parts(url: Column) -> dict[str, Column]:
    """scheme, host, path and the canonical URL of ``url``.  A URL
    without a ``scheme://`` prefix has no parts to normalize: its
    canonical form is the URL itself (NULL stays NULL)."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://(.*)$", 1)
    nofrag = F.split(rest, "#", 2).getItem(0)
    authority = F.lower(F.regexp_extract(nofrag, r"^([^/?]*)", 1))
    host = F.regexp_replace(
        F.regexp_replace(authority, r":\d+$", ""), r"^www\.", ""
    )
    port = F.regexp_extract(authority, r":(\d+)$", 1)
    keep_port = (
        (port != "")
        & ~((scheme == "http") & (port == "80"))
        & ~((scheme == "https") & (port == "443"))
    )
    pathquery = F.regexp_extract(nofrag, r"^[^/?]*(.*)$", 1)
    raw_path = F.regexp_extract(pathquery, r"^([^?]*)", 1)
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    query = F.regexp_extract(pathquery, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    canon_q = F.array_join(params, "&")
    canon_url = F.when(
        scheme != "",
        F.concat(
            scheme,
            F.lit("://"),
            host,
            F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
            path,
            F.when(canon_q != "", F.concat(F.lit("?"), canon_q)).otherwise(
                F.lit("")
            ),
        ),
    ).otherwise(url)
    return {"scheme": scheme, "host": host, "path": path, "canon": canon_url}


def registered_domain(host: Column) -> Column:
    """Public-suffix resolution (see module docstring): longest match
    against the embedded PSL snapshot (3-label entries before
    2-label), then the known-second-level-under-2-letter-ccTLD
    heuristic, then last-two-labels.  Hosts that ARE a public suffix
    (or have too few labels) pass through unchanged.

    Pure codegen'd projection — the snapshot compiles to an InSet over
    the joined trailing labels, no lookup join, no shuffle."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last_k = lambda k: F.array_join(  # noqa: E731
        F.slice(labels, F.greatest(n - (k - 1), F.lit(1)), F.lit(k)), "."
    )
    last2, last3 = last_k(2), last_k(3)
    tld = F.element_at(labels, -1)
    take4 = (n >= 4) & last3.isin(*_PSL3)
    take3 = (n >= 3) & (
        last2.isin(*_PSL2)
        | (F.element_at(labels, -2).isin(*SECOND_LEVEL_SUFFIXES) & (F.length(tld) == 2))
    )
    return (
        F.when(n <= 2, host)
        .when(take4, last_k(4))
        .when(take3, last3)
        .otherwise(last2)
    )


def url_canonicalize(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """→ (id, url, canon_url, host, registered_domain, path_depth):
    zero-shuffle projection applying the module's canonicalization
    contract.  ``path_depth`` counts non-empty path segments."""
    parts = _canon_parts(F.col(url_col))
    return df.select(
        F.col(id_col),
        F.col(url_col),
        parts["canon"].alias("canon_url"),
        parts["host"].alias("host"),
        registered_domain(parts["host"]).alias("registered_domain"),
        F.size(F.filter(F.split(parts["path"], "/"), lambda s: s != ""))
        .cast("int")
        .alias("path_depth"),
    )


def host_stats(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-registered-domain triage: → (registered_domain, n_docs,
    n_hosts, n_unique_texts, dup_rate, avg_chars) — the table a crawl
    operator reads to decide per-domain keep/sample/ban policy.

    One partial-aggregable groupBy; text crosses the shuffle only as a
    16-byte digest (count_distinct(md5)), so the plan is
    hot-domain-safe (AQE skew splitting applies to the aggregate's
    exchange, and no per-key collection exists)."""
    parts = _canon_parts(F.col(url_col))
    per_doc = df.select(
        registered_domain(parts["host"]).alias("registered_domain"),
        parts["host"].alias("host"),
        F.md5(F.col(text_col)).alias("th"),
        F.length(text_col).alias("chars"),
    )
    return per_doc.groupBy("registered_domain").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("host").alias("n_hosts"),
        F.count_distinct("th").alias("n_unique_texts"),
        F.round(
            1.0 - F.count_distinct("th") / F.count("*"), 6
        ).alias("dup_rate"),
        F.round(F.avg("chars"), 6).alias("avg_chars"),
    )


def boilerplate_lines(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_pages: int = 2,
    min_frac: float = 0.5,
) -> DataFrame:
    """Per-domain boilerplate removal (the line-level cousin of CCNet
    paragraph dedup): a line is boilerplate WITHIN a registered domain
    when it appears on ≥ ``min_pages`` pages AND on ≥ ``min_frac`` of
    the domain's pages (nav bars, cookie banners, copyright footers);
    every such line is dropped from every page of that domain.

    → (id, registered_domain, text [rebuilt from surviving lines, in
    order], n_lines, n_removed) for EVERY input doc — line-less docs
    come back with ``text='', n_lines=0``.

    Plan: lines cross the shuffle as (domain, md5(line)) digests only;
    per-domain page counts and per-(domain, line) distinct-page counts
    are both partial-aggregable groupBys ((domain, digest) keys, so a
    corpus-wide common line is not a hot key); the boilerplate set
    equi-joins back (AQE-skew-splittable — the CCNet failure shape of a
    10⁸-page domain never sorts in one task); per-doc rebuild collects
    doc-bounded structs only.
    """
    parts = _canon_parts(F.col(url_col))
    base = df.select(
        F.col(id_col).alias("id"),
        registered_domain(parts["host"]).alias("dom"),
        F.col(text_col).alias("text"),
    )
    occ = (
        base.select(
            "id", "dom", F.posexplode(F.split("text", "\n")).alias("pos", "line")
        )
        .withColumn("line", F.trim("line"))
        .where(F.col("line") != "")
        .withColumn("h", F.md5("line"))
    )
    pages = base.groupBy("dom").agg(F.count("*").alias("_np"))
    counts = occ.groupBy("dom", "h").agg(F.count_distinct("id").alias("_nd"))
    boiler = (
        counts.join(pages, "dom")
        .where(
            (F.col("_nd") >= min_pages)
            & (F.col("_nd") >= F.lit(min_frac) * F.col("_np"))
        )
        .select("dom", "h", F.lit(True).alias("_b"))
    )
    marked = occ.join(boiler, ["dom", "h"], "left")
    per_doc = marked.groupBy("id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_b").isNull(), F.struct("pos", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias("text"),
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.when(F.col("_b").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
    )
    return (
        base.select("id", "dom")
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("dom").alias("registered_domain"),
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        )
    )


def latest_capture(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    id_col: str = "doc_id",
) -> DataFrame:
    """Crawl-snapshot dedup: one row per CANONICAL url — the newest
    capture wins, ties on the timestamp broken by the highest id
    (fully deterministic).  → (canon_url, id, ts, n_captures).

    Plan: canonicalization is map-side; then two partial-aggregable
    groupBys and one equi-join on (canon_url, solo, ts) — no window
    sort, no per-key collection, so a URL captured 10⁶ times (a hot
    homepage across crawl snapshots) partial-aggregates map-side and
    splits under AQE.

    NULL timestamps are the oldest: a NULL-ts capture loses to any
    known-ts capture, and a canonical URL whose captures are ALL
    NULL-ts still yields a row (ts NULL, max id) — the (canon_url, ts)
    join is null-safe, so no URL silently disappears (ADVICE r4).

    A capture with a NULL URL cannot be a re-crawl of another capture:
    each one is its own group (keyed by its id under ``solo``) and comes
    back as its own row with ``n_captures = 1``.
    """
    parts = _canon_parts(F.col(url_col))
    c = df.select(
        parts["canon"].alias("canon_url"),
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("id"),
    ).withColumn("solo", F.when(F.col("canon_url").isNull(), F.col("id")))
    m = c.groupBy("canon_url", "solo").agg(
        F.max("ts").alias("ts"), F.count("*").alias("n_captures")
    )
    return (
        c.join(
            m.select(
                F.col("canon_url").alias("_m_url"),
                F.col("solo").alias("_m_solo"),
                F.col("ts").alias("_m_ts"),
                "n_captures",
            ),
            F.col("canon_url").eqNullSafe(F.col("_m_url"))
            & F.col("solo").eqNullSafe(F.col("_m_solo"))
            & F.col("ts").eqNullSafe(F.col("_m_ts")),
        )
        .groupBy("canon_url", "solo", "ts", "n_captures")
        .agg(F.max("id").alias("id"))
        .select(
            "canon_url",
            F.col("id").alias(id_col),
            "ts",
            F.col("n_captures").cast("long").alias("n_captures"),
        )
    )
