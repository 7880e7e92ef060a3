"""Resumable corpus-curation pipeline.

Composes the training-data operators (`operators/corpus.py`,
`operators/weburl.py`, `operators/dedup.py`,
`operators/clustering.py`) into the staged, checkpointed shape of the
ER pipeline (`plans/pipeline.py`): every stage materializes to the
:class:`TableCatalog` with a config fingerprint, so a crashed or
re-run invocation skips completed stages and any knob change reruns
exactly the affected suffix.

The DEFAULT chain is the r3 four-stage funnel; the r4 crawl-curation
operators compose in as OPTIONAL stages (r4 verdict #4), enabled by
config, in this canonical order:

1. ``url_canon``      — (url_col set) canonical URL + registered
                        domain appended as columns;
2. ``latest_capture`` — (also ts_col set) crawl-snapshot dedup: only
                        the newest capture per canonical URL survives;
3. ``gate``           — C4-style per-document gate, keep==true rows
                        survive;
4. ``line_filter``    — (line_filter=True) C4 line-level cleaning:
                        text REPLACED by surviving lines, killed pages
                        dropped;
5. ``boilerplate``    — (boilerplate=True, needs url_col) per-domain
                        boilerplate line removal: text REPLACED;
6. ``spans``          — (span_k set) exact duplicate-span removal:
                        text REPLACED by surviving tokens;
7. ``exact``          — content-hash exact dedup (min-id rep);
8. ``neardup``        — MinHash-LSH pairs → connected components →
                        min-id representative survives;
9. ``decontaminate``  — (benchmark_path set) Bloom-prefiltered
                        train/test decontamination: contaminated docs
                        dropped;
10. ``sample``        — deterministic per-language stratified sample.

Fingerprints chain: each stage hashes (input path, its OWN knobs, its
upstream ENABLED stage's fingerprint), so changing only the sample
rates reruns just ``sample``, a threshold change reruns ``neardup`` +
its suffix, enabling a new optional stage invalidates everything
downstream of its slot, and a different ``--input`` invalidates
everything.  Every stage ensures its upstream first, so a stale
mixed-config read is impossible.

CLI::

    python -m entity_resolution_pipeline_spark.plans.curate \
        --input /root/testdata/sf0.01/documents.parquet \
        --warehouse /tmp/curated --rates en=0.5,de=0.2 --default-rate 0.1 \
        [--url-col url --ts-col ts --line-filter --boilerplate \
         --span-k 50 --benchmark bench.parquet]

prints one JSON line with per-stage row counts and kill rates.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.clustering import connected_components
from ..operators.corpus import (
    c4_line_filter,
    c4_quality_gate,
    flag_contamination,
    remove_duplicate_spans,
    stratified_sample,
)
from ..operators.dedup import dedup_exact, minhash_near_duplicates
from ..operators.weburl import (
    boilerplate_lines,
    latest_capture,
    url_canonicalize,
)
from ..sources.catalog import TableCatalog

#: canonical slot order for ALL stages, enabled or not
STAGE_ORDER = (
    "url_canon",
    "latest_capture",
    "gate",
    "line_filter",
    "boilerplate",
    "spans",
    "exact",
    "neardup",
    "decontaminate",
    "sample",
)


@dataclass(frozen=True)
class CurationConfig:
    rates: dict = field(default_factory=dict)  # lang -> keep probability
    default_rate: float = 1.0
    minhash_threshold: float = 0.5
    id_col: str = "doc_id"
    text_col: str = "text"
    stratum_col: str = "lang"
    # optional crawl-curation stages (r5)
    url_col: str | None = None  # enables url_canon
    ts_col: str | None = None  # + url_col: enables latest_capture
    line_filter: bool = False  # enables c4_line_filter
    boilerplate: bool = False  # + url_col: enables boilerplate_lines
    boilerplate_min_pages: int = 2
    boilerplate_min_frac: float = 0.5
    span_k: int | None = None  # enables duplicate-span removal
    benchmark_path: str | None = None  # enables Bloom decontamination
    bloom_bits: int = 1 << 18


def _digest(payload: dict) -> str:
    blob = json.dumps(payload, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


class CurationPipeline:
    def __init__(
        self,
        spark: SparkSession,
        catalog: TableCatalog,
        input_path: str,
        cfg: CurationConfig | None = None,
    ):
        self.spark = spark
        self.catalog = catalog
        self.input_path = input_path
        self.cfg = cfg or CurationConfig()

    def stages(self) -> tuple[str, ...]:
        """The ENABLED stage chain for this config, in execution order."""
        cfg = self.cfg
        on = {
            "url_canon": bool(cfg.url_col),
            "latest_capture": bool(cfg.url_col and cfg.ts_col),
            "gate": True,
            "line_filter": cfg.line_filter,
            "boilerplate": bool(cfg.boilerplate and cfg.url_col),
            "spans": cfg.span_k is not None,
            "exact": True,
            "neardup": True,
            "decontaminate": cfg.benchmark_path is not None,
            "sample": True,
        }
        return tuple(s for s in STAGE_ORDER if on[s])

    # per-stage knobs — ONLY what that stage's output depends on, so a
    # knob change invalidates exactly its suffix of the chain
    def _stage_knobs(self, name: str) -> dict:
        cfg = self.cfg
        common = {"id_col": cfg.id_col, "text_col": cfg.text_col}
        return {
            "url_canon": {"id_col": cfg.id_col, "url_col": cfg.url_col},
            "latest_capture": {
                "id_col": cfg.id_col,
                "url_col": cfg.url_col,
                "ts_col": cfg.ts_col,
            },
            "gate": common,
            "line_filter": common,
            "boilerplate": {
                **common,
                "url_col": cfg.url_col,
                "min_pages": cfg.boilerplate_min_pages,
                "min_frac": cfg.boilerplate_min_frac,
            },
            "spans": {**common, "k": cfg.span_k},
            "exact": common,
            "neardup": {**common, "threshold": cfg.minhash_threshold},
            "decontaminate": {
                **common,
                "benchmark": cfg.benchmark_path,
                "bloom_bits": cfg.bloom_bits,
            },
            "sample": {
                "id_col": cfg.id_col,
                "stratum_col": cfg.stratum_col,
                "rates": cfg.rates,
                "default_rate": cfg.default_rate,
            },
        }[name]

    def _fingerprint(self, name: str, upstream_fp: str | None) -> str:
        return _digest(
            {
                "stage": name,
                "knobs": self._stage_knobs(name),
                "upstream": upstream_fp,
                "input": self.input_path,
            }
        )

    def _run_stage(
        self, name: str, upstream_fp: str | None, build, force: bool
    ) -> tuple[DataFrame, str]:
        fp = self._fingerprint(name, upstream_fp)
        if not force and self.catalog.exists(name, fp):
            return self.catalog.read(name), fp
        return self.catalog.write(name, build(), fingerprint=fp), fp

    def _input(self) -> DataFrame:
        return self.spark.read.parquet(self.input_path)

    def _stage(self, name: str, force: bool = False) -> tuple[DataFrame, str]:
        chain = self.stages()
        if name not in chain:
            raise ValueError(
                f"stage {name!r} is not enabled under this config "
                f"(enabled chain: {chain})"
            )
        i = chain.index(name)
        if i == 0:
            up, up_fp = self._input(), None
        else:
            up, up_fp = self._stage(chain[i - 1])  # ensure upstream current
        build = lambda: getattr(self, f"_build_{name}")(up)  # noqa: E731
        return self._run_stage(name, up_fp, build, force)

    def stage(self, name: str, force: bool = False) -> DataFrame:
        return self._stage(name, force)[0]

    # -- stage builders (each takes the upstream frame) -----------------

    def _build_url_canon(self, up: DataFrame) -> DataFrame:
        cfg = self.cfg
        canon = url_canonicalize(up, url_col=cfg.url_col, id_col=cfg.id_col)
        return up.join(
            canon.select(cfg.id_col, "canon_url", "registered_domain"),
            cfg.id_col,
        )

    def _build_latest_capture(self, up: DataFrame) -> DataFrame:
        cfg = self.cfg
        # canonicalization is idempotent, so feeding canon_url back
        # through the operator selects the same winners the operator
        # would pick from the raw URLs
        winners = latest_capture(
            up, url_col="canon_url", ts_col=cfg.ts_col, id_col=cfg.id_col
        ).select(cfg.id_col)
        return up.join(winners, cfg.id_col, "left_semi")

    def _build_gate(self, up: DataFrame) -> DataFrame:
        cfg = self.cfg
        keep = (
            c4_quality_gate(up, cfg.id_col, cfg.text_col)
            .where(F.col("keep"))
            .select(cfg.id_col)
        )
        return up.join(keep, cfg.id_col, "left_semi")

    def _build_line_filter(self, up: DataFrame) -> DataFrame:
        cfg = self.cfg
        cleaned = (
            c4_line_filter(up, cfg.id_col, cfg.text_col)
            .where(F.col("keep_page"))
            .select(cfg.id_col, F.col("text").alias(cfg.text_col))
        )
        return up.drop(cfg.text_col).join(cleaned, cfg.id_col)

    def _build_boilerplate(self, up: DataFrame) -> DataFrame:
        cfg = self.cfg
        cleaned = boilerplate_lines(
            up,
            url_col=cfg.url_col,
            id_col=cfg.id_col,
            text_col=cfg.text_col,
            min_pages=cfg.boilerplate_min_pages,
            min_frac=cfg.boilerplate_min_frac,
        ).select(cfg.id_col, F.col("text").alias(cfg.text_col))
        return up.drop(cfg.text_col).join(cleaned, cfg.id_col)

    def _build_spans(self, up: DataFrame) -> DataFrame:
        cfg = self.cfg
        cleaned = remove_duplicate_spans(
            up, id_col=cfg.id_col, text_col=cfg.text_col, k=cfg.span_k
        ).select(cfg.id_col, F.col("text").alias(cfg.text_col))
        return up.drop(cfg.text_col).join(cleaned, cfg.id_col)

    def _build_exact(self, up: DataFrame) -> DataFrame:
        cfg = self.cfg
        return dedup_exact(up, cfg.text_col, cfg.id_col)

    def _build_neardup(self, up: DataFrame) -> DataFrame:
        cfg = self.cfg
        pairs = minhash_near_duplicates(
            up,
            id_col=cfg.id_col,
            text_col=cfg.text_col,
            threshold=cfg.minhash_threshold,
        )
        edges = pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        labels = connected_components(edges)
        # drop every clustered doc that is not its component's min-id
        drop = labels.where(F.col("id") != F.col("component_id")).select(
            F.col("id").alias(cfg.id_col)
        )
        return up.join(drop, cfg.id_col, "left_anti")

    def _build_decontaminate(self, up: DataFrame) -> DataFrame:
        cfg = self.cfg
        bench = self.spark.read.parquet(cfg.benchmark_path)
        flags = flag_contamination(
            up,
            bench,
            id_col=cfg.id_col,
            text_col=cfg.text_col,
            bloom_bits=cfg.bloom_bits,
        )
        clean = flags.where(~F.col("contaminated")).select(cfg.id_col)
        return up.join(clean, cfg.id_col, "left_semi")

    def _build_sample(self, up: DataFrame) -> DataFrame:
        cfg = self.cfg
        return stratified_sample(
            up,
            cfg.rates,
            stratum_col=cfg.stratum_col,
            key_col=cfg.id_col,
            default_rate=cfg.default_rate,
        )

    def run(self, force: bool = False) -> dict:
        chain = self.stages()
        for s in chain:
            self.stage(s, force=force)
        rows = {m["table"]: m["rows"] for m in self.catalog.metrics()}
        n_in = self._input().count()
        funnel = {"input": n_in, **{s: rows.get(s) for s in chain}}
        prev = n_in
        kill = {}
        for s in chain:
            cur = rows.get(s) or 0
            kill[s] = round(1.0 - cur / prev, 4) if prev else 0.0
            prev = cur
        return {"funnel": funnel, "kill_rate": kill}


def main() -> None:  # pragma: no cover — spark-submit entry
    import argparse

    from ..session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--warehouse", default="/tmp/curation_warehouse")
    ap.add_argument("--rates", default="", help="lang=rate,lang=rate")
    ap.add_argument("--default-rate", type=float, default=1.0)
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--url-col", default=None)
    ap.add_argument("--ts-col", default=None)
    ap.add_argument("--line-filter", action="store_true")
    ap.add_argument("--boilerplate", action="store_true")
    ap.add_argument("--span-k", type=int, default=None)
    ap.add_argument("--benchmark", default=None, help="parquet path")
    ap.add_argument("--force", action="store_true")
    args = ap.parse_args()

    rates = {}
    for part in filter(None, args.rates.split(",")):
        k, v = part.split("=", 1)
        rates[k] = float(v)
    spark = get_spark("corpus-curate")
    spark.sparkContext.setLogLevel("ERROR")
    pipe = CurationPipeline(
        spark,
        TableCatalog(spark, args.warehouse),
        args.input,
        CurationConfig(
            rates=rates,
            default_rate=args.default_rate,
            minhash_threshold=args.threshold,
            url_col=args.url_col,
            ts_col=args.ts_col,
            line_filter=args.line_filter,
            boilerplate=args.boilerplate,
            span_k=args.span_k,
            benchmark_path=args.benchmark,
        ),
    )
    print(json.dumps(pipe.run(force=args.force)))


if __name__ == "__main__":
    main()
