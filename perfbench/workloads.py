"""The workloads.  Each calls the program only through public entry
points and wraps every layer call in a tracer span:

- ``pages_er``: ``ERPipeline.extract → block → score → cluster`` over
  seeded ``synth_pages`` rows in a fresh ``TableCatalog``;
- ``curate_chain``: seven ``CurationPipeline.stage(name)`` calls over a
  seeded corpus with planted work for every stage.

A workload's ``job`` is one fresh, forced run of its chain; ``rerun(i)``
re-runs the chain after switching a knob that only its last stage reads
(alternating between two values, so every re-run has work to do);
``check_*`` count the outputs (untimed) and compare them with the pins.
"""

from __future__ import annotations

import hashlib
import shutil
from dataclasses import replace
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from entity_resolution_pipeline_spark.config import ClusteringConfig, PipelineConfig
from entity_resolution_pipeline_spark.operators.corpus import SAMPLE_BUCKETS
from entity_resolution_pipeline_spark.plans.curate import CurationConfig, CurationPipeline
from entity_resolution_pipeline_spark.plans.pipeline import ERPipeline
from entity_resolution_pipeline_spark.sources.catalog import TableCatalog
from entity_resolution_pipeline_spark.sources.synth import synth_pages

import inputs

#: input size per scale (entities / base documents); ``tiny`` is the
#: smoke-test size
SIZES = {
    "pages_er": {"full": 1000, "tiny": 50},
    "curate_chain": {"full": 1000, "tiny": 100},
}

#: pinned output counts per (workload, scale).  Every count is
#: seed-independent by construction: the seed moves urls, ids and row
#: order, never content (see inputs.py).
PINS: dict[tuple[str, str], dict[str, int]] = {
    ("pages_er", "full"): {
        "extracted": 1826,
        "postings": 22917,
        "pairs": 746997,
        "block_stats": 1,
        "matched": 1475,
        "clustered": 1826,
        "representatives": 444,
        "tp": 1475,
        "fp": 0,
        "fn": 0,
        "components": 1000,
        "representatives_min2": 444,
        "representatives_min3": 204,
    },
    ("pages_er", "tiny"): {
        "extracted": 103,
        "postings": 1197,
        "pairs": 2486,
        "block_stats": 1,
        "matched": 98,
        "clustered": 103,
        "representatives": 26,
        "tp": 98,
        "fp": 0,
        "fn": 0,
        "components": 50,
        "representatives_min2": 26,
        "representatives_min3": 15,
    },
    # the funnel up to sample: each plant is removed by its stage (20
    # re-crawls, 15 exact and 15 near copies, 8 contaminated documents)
    ("curate_chain", "full"): {
        "input": 1050,
        "url_canon": 1050,
        "latest_capture": 1030,
        "gate": 689,
        "exact": 674,
        "neardup": 659,
        "decontaminate": 651,
    },
    ("curate_chain", "tiny"): {
        "input": 104,
        "url_canon": 104,
        "latest_capture": 102,
        "gate": 64,
        "exact": 63,
        "neardup": 62,
        "decontaminate": 61,
    },
}


def _fresh(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def table_rows(path: Path) -> int:
    """Rows of a parquet table directory, from its file footers."""
    return sum(pq.read_metadata(f).num_rows for f in path.glob("*.parquet"))


def catalog_writes(warehouse: Path, since: float) -> dict[str, float]:
    """Checkpoints, data files and bytes the catalog wrote since ``since``."""
    writes = files = size = 0
    for p in warehouse.iterdir():
        if p.name.endswith("._meta.json") and p.stat().st_mtime >= since:
            writes += 1
        elif p.is_dir() and not p.name.startswith("_"):
            for f in p.iterdir():
                st = f.stat()
                if not f.name.startswith((".", "_")) and st.st_mtime >= since:
                    files += 1
                    size += st.st_size
    return {"writes": writes, "files_written": files, "bytes_written_mb": size / 2**20}


class Workload:
    name = ""
    #: span names of one job, in order
    layers: tuple[str, ...] = ()
    #: span names of the untimed output check
    checked_layers: tuple[str, ...] = ()

    def __init__(self, scale: str):
        self.scale = scale
        self.size = SIZES[self.name][scale]
        self.records = 0
        self.warehouse: Path | None = None

    def compare(self, counts: dict[str, int]) -> list[str]:
        pins = PINS[self.name, self.scale]
        return [f"{k}: got {v}, pinned {pins.get(k)}" for k, v in counts.items() if v != pins.get(k)]


class PagesER(Workload):
    name = "pages_er"
    layers = ("extract", "blocking", "matching", "clustering")
    checked_layers = ("evaluate",)
    TABLES = ("extracted", "postings", "pairs", "block_stats", "matched", "clustered", "representatives")
    #: the last stage's knob; the job runs the first, re-runs alternate
    MIN_CLUSTER_SIZES = (2, 3)

    def prepare(self, spark, work: Path, seed: int) -> None:
        self.warehouse = _fresh(work / "warehouse")
        catalog = TableCatalog(spark, str(self.warehouse))
        # the seed moves every url (so every rid, shuffle placement and
        # min-url representative) and entity id, not the page content
        pages = synth_pages(spark, self.size).select(
            F.regexp_replace("url", "^https://", f"https://r{seed}.").alias("url"),
            "warc_ts",
            "html",
            "text",
            "lang",
            (F.col("entity_id") + F.lit(seed * 10**9)).alias("entity_id"),
        )
        catalog.write("pages", pages)
        self.records = table_rows(self.warehouse / "pages")
        self.pipes = [
            ERPipeline(
                spark,
                catalog,
                PipelineConfig(clustering=ClusteringConfig(min_cluster_size=m)),
                num_entities=self.size,
            )
            for m in self.MIN_CLUSTER_SIZES
        ]

    def job(self, tr) -> None:
        pipe = self.pipes[0]
        with tr.span("extract"):
            pipe.extract(force=True)
        with tr.span("blocking"):
            pipe.block(force=True)
        with tr.span("matching"):
            pipe.score(force=True)
        with tr.span("clustering"):
            pipe.cluster(force=True)

    def rerun(self, tr, i: int) -> None:
        pipe = self.pipes[(i + 1) % 2]
        with tr.span("rerun"):
            pipe.run(stages=("extract", "block", "score", "cluster"))
        self.rerun_pipe = pipe

    def _count(self, name: str) -> int:
        return table_rows(self.warehouse / name)

    def check_job(self, tr) -> tuple[dict[str, float], list[str]]:
        with tr.span("evaluate"):
            m = self.pipes[0].evaluate()
        c = {t: self._count(t) for t in self.TABLES}
        c.update(tp=m.tp, fp=m.fp, fn=m.fn)
        clusters = pq.read_table(self.warehouse / "clustered", columns=["entity_cluster"])["entity_cluster"]
        c["components"] = pc.count_distinct(clusters).as_py()
        layer = {
            "extract.rows_out": c["extracted"],
            "blocking.postings_rows": c["postings"],
            "blocking.pairs_out": c["pairs"],
            "matching.pairs_in": c["pairs"],
            "matching.matches": c["matched"],
            "clustering.edges_in": c["matched"],
            "clustering.components": c["components"],
        }
        return layer, self.compare(c)

    def check_rerun(self) -> list[str]:
        m = self.rerun_pipe.cfg.clustering.min_cluster_size
        return self.compare({f"representatives_min{m}": self._count("representatives")})


#: curation stage → the operator module it exercises
CURATE_MODULE = {
    "url_canon": "weburl",
    "latest_capture": "weburl",
    "gate": "corpus",
    "exact": "dedup",
    "neardup": "dedup",
    "decontaminate": "corpus",
    "sample": "corpus",
}


class CurateChain(Workload):
    name = "curate_chain"
    layers = tuple(f"{m}.{s}" for s, m in CURATE_MODULE.items())
    #: the last stage's knob; the job runs the first, re-runs alternate
    RATES = ({"en": 0.5, "de": 0.2}, {"en": 0.6, "de": 0.2})
    DEFAULT_RATE = 0.3
    SALT = "strat"  # stratified_sample's default salt

    def prepare(self, spark, work: Path, seed: int) -> None:
        data = _fresh(work / "data")
        self.warehouse = _fresh(work / "warehouse")
        docs_path = data / "documents.parquet"
        bench = data / "benchmark.parquet"
        self.records = inputs.write_curation_corpus(docs_path, bench, self.size, seed)
        catalog = TableCatalog(spark, str(self.warehouse))
        # line_filter stays off: it drops every document of this corpus
        base = CurationConfig(
            default_rate=self.DEFAULT_RATE,
            url_col="url",
            ts_col="ts",
            benchmark_path=str(bench),
        )
        self.pipes = [
            CurationPipeline(spark, catalog, str(docs_path), replace(base, rates=r)) for r in self.RATES
        ]
        chain = self.pipes[0].stages()
        if chain != tuple(CURATE_MODULE):
            raise RuntimeError(f"unexpected curation chain {chain}")

    def job(self, tr) -> None:
        pipe = self.pipes[0]
        for stage, layer in zip(pipe.stages(), self.layers):
            with tr.span(layer):
                pipe.stage(stage, force=True)

    def rerun(self, tr, i: int) -> None:
        self.rerun_pipe = self.pipes[(i + 1) % 2]
        with tr.span("rerun"):
            for stage in self.rerun_pipe.stages():
                self.rerun_pipe.stage(stage)

    def _sample_problems(self, rates: dict) -> list[str]:
        """``sample`` against an md5-bucket reimplementation over its input."""

        def keep(doc_id: int, lang: str) -> bool:
            h = hashlib.md5(f"{self.SALT}{doc_id}".encode()).hexdigest()
            rate = rates.get(lang, self.DEFAULT_RATE)
            return int(h[:8], 16) % SAMPLE_BUCKETS < round(rate * SAMPLE_BUCKETS)

        up = pq.read_table(self.warehouse / "decontaminate", columns=["doc_id", "lang"]).to_pylist()
        want = {r["doc_id"] for r in up if keep(r["doc_id"], r["lang"])}
        got = set(pq.read_table(self.warehouse / "sample", columns=["doc_id"])["doc_id"].to_pylist())
        if got != want:
            return [f"sample: {len(got ^ want)} doc ids differ from the md5-bucket rule"]
        return []

    def check_job(self, tr) -> tuple[dict[str, float], list[str]]:
        pipe = self.pipes[0]
        counts = {"input": self.records}
        counts.update({s: table_rows(self.warehouse / s) for s in pipe.stages()})
        layer, prev = {}, counts["input"]
        for stage, name in zip(CURATE_MODULE, self.layers):
            cur = counts[stage]
            layer[f"{name}.rows_out"] = cur
            layer[f"{name}.kill_rate"] = 1.0 - cur / prev if prev else 0.0
            prev = cur
        # sample's count depends on the seeded ids; it is checked by rule
        del counts["sample"]
        return layer, self.compare(counts) + self._sample_problems(self.RATES[0])

    def check_rerun(self) -> list[str]:
        return self._sample_problems(self.rerun_pipe.cfg.rates)


WORKLOADS = {w.name: w for w in (PagesER, CurateChain)}
