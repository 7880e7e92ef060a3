"""Stage 1 — deterministic HTML → text extraction.

The reference's analog is its line-prefix corpus parser + normalization
(extract_to_csv.py:24-56, data_loading.py:22-39).  Ours takes the
``html:binary`` column of the pages table and produces:

* ``text``         — normalized visible text (byte-identical contract:
                     the reference normalization chain applied to the
                     stripped HTML, FIXTURES.md F2)
* ``title_norm``   — normalized <h1>/<title> content
* ``authors_norm`` — normalized byline content

Body text comes from :func:`extract_text_udf`, an Arrow-batched pandas
UDF using vectorized ``pandas.Series.str`` ops (the north-rule-named
path; extensible to real HTML parsing libs on a production image).
:func:`extract_text_expr` is the builtin-only ``regexp_replace``
reference it is tested byte-identical against.

No per-row Python anywhere: the UDF body is pandas-vectorized.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..functions.normalize import normalize_text

# Entity-reference decode table shared by both paths (order matters:
# &amp; last so "&amp;lt;" doesn't double-decode).
_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)

_SCRIPT_STYLE_RE = r"(?is)<(script|style)[^>]*>.*?</\1>"
_TAG_RE = r"(?s)<[^>]+>"


def _strip_html_expr(c: Column) -> Column:
    c = F.regexp_replace(c, _SCRIPT_STYLE_RE, " ")
    c = F.regexp_replace(c, _TAG_RE, " ")
    for ent, ch in _ENTITIES:
        c = F.regexp_replace(c, ent, ch)
    return c


def extract_text_expr(html_bin: Column | str) -> Column:
    """Visible text of an HTML document, normalized — builtin-only."""
    c = F.col(html_bin) if isinstance(html_bin, str) else html_bin
    return normalize_text(_strip_html_expr(F.decode(c, "UTF-8")))


@pandas_udf(StringType())
def extract_text_udf(html_bin: pd.Series) -> pd.Series:
    """Arrow-batched twin of :func:`extract_text_expr`.

    Entirely ``Series.str`` vectorized ops — the Python boundary is one
    Arrow batch, the kernels are pandas/C, no per-row Python loop.
    """
    s = html_bin.apply(lambda b: b.decode("utf-8", "replace") if b is not None else "")
    s = s.str.replace(_SCRIPT_STYLE_RE, " ", regex=True)
    s = s.str.replace(_TAG_RE, " ", regex=True)
    for ent, ch in _ENTITIES:
        s = s.str.replace(ent, ch, regex=False)
    # normalization chain (data_loading.py:23-36): lower → [^a-z0-9]→' '
    # → squeeze → trim
    s = s.str.lower()
    s = s.str.replace("[^a-z0-9]", " ", regex=True)
    s = s.str.replace(" +", " ", regex=True)
    return s.str.strip()


def rid_expr(col: Column | str, id_bits: int = 64) -> Column:
    """Deterministic record-id expression for a key column.

    64 → ``xxhash64(col)`` (8-byte shuffle keys); 128 → an orderable
    struct of two independent xxhash64 streams (the literal first
    argument seeds the second stream), collision probability ~n²/2^129.
    Shared by :func:`extract_fields` and the evaluation gold-pair
    mapping so both sides always agree on the id space.
    """
    c = F.col(col) if isinstance(col, str) else col
    if id_bits == 64:
        return F.xxhash64(c)
    if id_bits == 128:
        return F.struct(
            F.xxhash64(c).alias("h1"), F.xxhash64(F.lit(1), c).alias("h2")
        )
    raise ValueError(f"id_bits must be 64 or 128, got {id_bits}")


def extract_fields(pages: DataFrame, id_bits: int = 64) -> DataFrame:
    """pages(url, warc_ts, html, text, lang[, entity_id]) →
    extracted(url, warc_ts, lang, text, title_norm, authors_norm).

    Field extraction (title/byline) is builtin ``regexp_extract`` on the
    decoded HTML; body text via the Arrow UDF.

    ``id_bits=128`` swaps the 8-byte rid for a two-seed xxhash64 struct
    (16-byte shuffle keys, collision probability ~n²/2^129 — zero at
    any real corpus size, vs ~27k expected collisions at 10^12 urls for
    the 64-bit default).  Everything downstream (blocking, pair
    generation, scoring joins, connected components) needs only
    equality/ordering, which Spark defines for structs field-by-field.
    """
    doc = F.decode(F.col("html"), "UTF-8")
    title_raw = F.coalesce(
        F.nullif(F.regexp_extract(doc, r"(?is)<h1[^>]*>(.*?)</h1>", 1), F.lit("")),
        F.regexp_extract(doc, r"(?is)<title[^>]*>(.*?)</title>", 1),
    )
    byline_raw = F.regexp_extract(doc, r'(?is)<p class="byline"[^>]*>(.*?)</p>', 1)

    keep = [c for c in ("url", "warc_ts", "lang", "entity_id") if c in pages.columns]
    out = pages.select(
        *keep,
        # compact record id: every downstream shuffle (postings, pairs,
        # edges) carries 8 (or 16) bytes instead of the ~80-byte url.
        # Deterministic (resume-safe, unlike monotonically_increasing_id
        # — SURVEY §2 P9).  At 10^12 rows the 64-bit birthday bound
        # expects ~27k collisions, so the pipeline runs
        # rid_collision_count after every extract and hard-fails on a
        # hit (the signal to pass id_bits=128 for that corpus).
        rid_expr("url", id_bits).alias("rid"),
        extract_text_udf(F.col("html")).alias("text"),
        normalize_text(title_raw).alias("title_norm"),
        normalize_text(byline_raw).alias("authors_norm"),
    )
    # `Combined` blocking attribute (data_loading.py:38-39): cleaned title
    # + authors.  Blocking on this — not on full body text — keeps
    # boilerplate tokens out of the block index (they are the hot keys).
    return out.withColumn(
        "combined", F.concat_ws(" ", F.col("title_norm"), F.col("authors_norm"))
    )


def rid_collision_count(extracted: DataFrame) -> int:
    """Detect 64-bit rid collisions: ``count(distinct url) −
    count(distinct rid)``.

    A collision silently merges two records through postings, pairs and
    clustering with no other symptom; at 10^12 urls the birthday bound
    expects ~27k of them, so a cluster-scale deployment must either run
    this check per extract or swap rid to a 128-bit digest.  One
    map-side-partial distinct-count aggregate — cheap relative to the
    extract itself.
    """
    row = extracted.agg(
        (
            F.count_distinct(F.col("url")) - F.count_distinct(F.col("rid"))
        ).alias("collisions")
    ).collect()[0]
    return int(row["collisions"])
