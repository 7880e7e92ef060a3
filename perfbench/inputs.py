"""Seeded input tables for the benchmark workloads.

Document content is drawn once from a fixed stream, in the shape of the
``documents`` table the repository's tests use (31-word vocabulary,
10-100 words per document, five languages, twenty sources).  The
workload seed permutes the doc ids and the row order, so each seed is a
different input whose curation funnel up to ``sample`` can be pinned as
a constant, while id-keyed decisions (latest-capture tie breaks,
hash-bucket sampling, shuffle placement) change with the seed.

The curation corpus plants a known number of rows for each stage to
act on: re-crawled captures, exact copies, near copies and
benchmark-contaminated documents.
"""

from __future__ import annotations

import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from entity_resolution_pipeline_spark.config import STOPWORDS
from entity_resolution_pipeline_spark.operators.corpus import (
    C4_MEAN_WORD_LEN,
    C4_MIN_CHARS,
    C4_MIN_STOPWORD_FRAC,
    C4_MIN_WORDS,
)

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)
N_SOURCES = 20
CONTENT_SEED = 20240611

#: curation plants, as counts per 1000 base documents
PLANTS_PER_1000 = {"captures": 20, "exact": 15, "near": 15, "contaminated": 8}
BENCH_DECOYS = 20  # benchmark texts that match no document


def _words(rng: random.Random, n: int) -> list[str]:
    return [rng.choice(VOCAB) for _ in range(n)]


def _base_docs(rng: random.Random, n: int) -> list[dict]:
    return [
        {
            "words": _words(rng, rng.randint(10, 100)),
            "lang": rng.choices(LANGS, LANG_WEIGHTS)[0],
            "source": f"src{i % N_SOURCES}",
        }
        for i in range(n)
    ]


def _swap(word: str) -> str:
    return VOCAB[(VOCAB.index(word) + 1) % len(VOCAB)]


def _gate_keeps(words: list[str]) -> bool:
    """Whether the C4 quality gate keeps a document of these words."""
    n = len(words)
    lo, hi = C4_MEAN_WORD_LEN
    return (
        n >= C4_MIN_WORDS
        and len(" ".join(words)) >= C4_MIN_CHARS
        and lo <= sum(map(len, words)) / n <= hi
        and sum(w in STOPWORDS for w in words) / n >= C4_MIN_STOPWORD_FRAC
    )


def _assign_ids(rows: list[dict], seed: int) -> list[dict]:
    """Seeded id permutation and row order (content is untouched)."""
    perm = list(range(len(rows)))
    random.Random(seed).shuffle(perm)
    for doc_id, row in zip(perm, rows):
        row["doc_id"] = doc_id
    return sorted(rows, key=lambda r: r["doc_id"])


def _write(rows: list[dict], columns: dict[str, pa.DataType], path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    table = pa.table({c: pa.array([r[c] for r in rows], t) for c, t in columns.items()})
    pq.write_table(table, str(path))


DOC_COLUMNS = {
    "doc_id": pa.int64(),
    "text": pa.string(),
    "lang": pa.string(),
    "source": pa.string(),
    "n_chars": pa.int64(),
}


def write_curation_corpus(docs_path: Path, bench_path: Path, n_base: int, seed: int) -> int:
    """Documents with ``url``/``ts`` columns and planted stage work, plus
    the benchmark set for decontamination.  Returns the row count."""
    rng = random.Random(CONTENT_SEED + 1)
    docs = _base_docs(rng, n_base)
    plants = {k: max(1, v * n_base // 1000) for k, v in PLANTS_PER_1000.items()}
    for i, doc in enumerate(docs):
        doc["page"] = f"a/{i}"
        doc["ts"] = 1_700_000_000 + i

    # each plant takes its own base docs, so no two plants interact, and
    # only docs the quality gate keeps in every planted form, so every
    # plant reaches its stage
    phrase = [f"zq0x{t}" for t in range(6)]

    def take(n: int, fits) -> list[dict]:
        got = [d for d in docs if fits(d["words"]) and not d.get("plant")][:n]
        for d in got:
            d["plant"] = True
        return got

    exact = take(plants["exact"], lambda w: len(w) >= 20 and _gate_keeps(w))
    near = take(plants["near"], lambda w: len(w) >= 20 and _gate_keeps(w) and _gate_keeps(w[:-1] + [_swap(w[-1])]))
    contaminated = take(plants["contaminated"], lambda w: len(w) >= 20 and _gate_keeps(w[:5] + phrase + w[5:]))
    captured = take(plants["captures"], lambda w: True)

    extra = []
    for j, d in enumerate(exact):
        extra.append({**d, "page": f"b/{j}"})
    for j, d in enumerate(near):
        extra.append({**d, "words": d["words"][:-1] + [_swap(d["words"][-1])], "page": f"c/{j}"})
    bench_texts = []
    for j, d in enumerate(contaminated):
        phrase = [f"zq{j}x{t}" for t in range(6)]
        d["words"] = d["words"][:5] + phrase + d["words"][5:]
        bench_texts.append(" ".join(["question"] + phrase + ["answer"]))
    bench_texts += [f"decoy{j} unrelated benchmark item {j}" for j in range(BENCH_DECOYS)]
    for d in captured:
        # an older capture of the same page under a non-canonical url
        extra.append({**d, "ts": d["ts"] - 86_400, "alias": True})

    rows = []
    for d in docs + extra:
        host = f"{d['source']}-news.com"
        url = (
            f"https://WWW.{host}:443/{d['page']}?utm_source=feed#top"
            if d.get("alias")
            else f"https://www.{host}/{d['page']}"
        )
        text = " ".join(d["words"])
        rows.append(
            {
                "text": text,
                "lang": d["lang"],
                "source": d["source"],
                "n_chars": len(text),
                "url": url,
                "ts": d["ts"] * 1_000_000,
            }
        )
    rows = _assign_ids(rows, seed)
    _write(rows, {**DOC_COLUMNS, "url": pa.string(), "ts": pa.timestamp("us")}, docs_path)
    bench = [{"doc_id": j, "text": t} for j, t in enumerate(bench_texts)]
    _write(bench, {"doc_id": pa.int64(), "text": pa.string()}, bench_path)
    return len(rows)
