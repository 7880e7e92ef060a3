"""The end-to-end ER pipeline: synth → extract → block → score → cluster
→ evaluate, each stage checkpointed and resumable.

Replaces the reference's eager single-process lifecycle
(run_pipeline.py:22-40, SURVEY §3.1) with stage functions over a
:class:`TableCatalog`: a stage re-runs only when its checkpoint is
absent or its fingerprint changed (SURVEY §3.4 target lifecycle).  A
stage's fingerprint covers the config it reads and its upstream stage's
fingerprint, so a knob change re-runs the stage that reads it and every
stage after it, never the ones before.  ``spark-submit --py-files er.zip
-m …pipeline --stage all`` runs the same code on a real cluster.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.blocking import (
    block_stats,
    capped_postings,
    pairs_from_postings,
)
from ..operators.clustering import assign_clusters, cluster_representatives
from ..operators.evaluate import PairMetrics, pairwise_f1
from ..operators.extract import extract_fields, rid_collision_count, rid_expr
from ..operators.matching import matched_pairs
from ..sources.catalog import TableCatalog
from ..sources.synth import labeled_pairs, synth_pages

STAGES = ("synth", "extract", "block", "score", "cluster")


class ERPipeline:
    def __init__(
        self,
        spark: SparkSession,
        catalog: TableCatalog,
        cfg: PipelineConfig | None = None,
        num_entities: int = 1000,
    ):
        self.spark = spark
        self.catalog = catalog
        self.cfg = cfg or PipelineConfig()
        self.num_entities = num_entities

    def _stage_knobs(self, stage: str) -> dict:
        """The part of the config ``stage`` reads."""
        cfg = self.cfg
        return {
            "synth": {"n": self.num_entities},
            "extract": {"id_bits": cfg.id_bits},
            "block": asdict(cfg.blocking),
            "score": asdict(cfg.matching),
            "cluster": asdict(cfg.clustering),
        }[stage]

    def _fingerprint(self, stage: str) -> str:
        """Digest of ``stage``'s knobs and its upstream stage's
        fingerprint (stages run in :data:`STAGES` order)."""
        i = STAGES.index(stage)
        blob = json.dumps(
            {
                "stage": stage,
                "knobs": self._stage_knobs(stage),
                "upstream": self._fingerprint(STAGES[i - 1]) if i else None,
            },
            sort_keys=True,
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]

    # each table: skip when checkpoint exists with its stage's fingerprint
    def _run_stage(self, stage: str, table: str, build, force: bool = False) -> DataFrame:
        fp = self._fingerprint(stage)
        if not force and self.catalog.exists(table, fp):
            return self.catalog.read(table)
        return self.catalog.write(table, build(), fingerprint=fp)

    def synth(self, force: bool = False) -> DataFrame:
        return self._run_stage(
            "synth", "pages", lambda: synth_pages(self.spark, self.num_entities), force
        )

    def extract(self, force: bool = False) -> DataFrame:
        def build():
            return extract_fields(
                self.catalog.read("pages"), id_bits=self.cfg.id_bits
            )

        out = self._run_stage("extract", "extracted", build, force)
        # rid is a digest of url; a collision would silently merge two
        # records downstream, so fail loudly here (one cheap agg over
        # the checkpoint — see extract.rid_collision_count).
        collisions = rid_collision_count(out)
        if collisions:
            raise RuntimeError(
                f"{collisions} rid collision(s) in extract output — "
                "rerun with PipelineConfig(id_bits=128) for this corpus"
            )
        return out

    def block(self, force: bool = False) -> DataFrame:
        # two checkpoints: capped postings first (the pair self-join
        # evaluates its input once per side — materializing postings
        # stops the explode+normalize subtree running 4×), then pairs
        # keyed on the compact rid (8-byte shuffle rows)
        def postings():
            ext = self.catalog.read("extracted")
            return capped_postings(
                ext, self.cfg.blocking, id_col="rid", text_col="combined"
            )

        self._run_stage("block", "postings", postings, force)

        def build():
            return pairs_from_postings(
                self.catalog.read("postings"), self.cfg.blocking
            )

        pairs = self._run_stage("block", "pairs", build, force)

        # skew metrics alongside the checkpoint (north-rule observability)
        def stats():
            return block_stats(self.catalog.read("postings"))

        self._run_stage("block", "block_stats", stats, force)
        return pairs

    def score(self, force: bool = False) -> DataFrame:
        def build():
            ext = self.catalog.read("extracted")
            pairs = self.catalog.read("pairs")
            return matched_pairs(pairs, ext, self.cfg.matching, id_col="rid")

        return self._run_stage("score", "matched", build, force)

    def cluster(self, force: bool = False) -> DataFrame:
        def build():
            ext = self.catalog.read("extracted")
            matched = self.catalog.read("matched")
            return assign_clusters(ext, matched, id_col="rid", cfg=self.cfg.clustering)

        clustered = self._run_stage("cluster", "clustered", build, force)

        def reps():
            # url-keyed labels: representative stays the human-readable
            # min(url) even though clustering ran on compact rids
            labels = clustered.select(
                F.col("url").alias("id"), F.col("entity_cluster").alias("component_id")
            )
            return cluster_representatives(labels, self.cfg.clustering)

        self._run_stage("cluster", "representatives", reps, force)
        return clustered

    def evaluate(self) -> PairMetrics:
        # gold pairs mapped into rid space by the same deterministic
        # hash (respecting cfg.id_bits) — no join needed
        gold = labeled_pairs(self.catalog.read("pages")).select(
            rid_expr("url1", self.cfg.id_bits).alias("id1"),
            rid_expr("url2", self.cfg.id_bits).alias("id2"),
        )
        pred = self.catalog.read("matched").select("id1", "id2")
        return pairwise_f1(pred, gold)

    def run(self, stages=STAGES, force: bool = False) -> None:
        for s in stages:
            getattr(self, s)(force=force)


def main() -> None:  # pragma: no cover — spark-submit entry
    import argparse

    from ..session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--stage", default="all", choices=("all", *STAGES, "evaluate"))
    ap.add_argument("--warehouse", default="/tmp/er_warehouse")
    ap.add_argument("--entities", type=int, default=1000)
    ap.add_argument("--force", action="store_true")
    args = ap.parse_args()

    spark = get_spark("er-pipeline")
    pipe = ERPipeline(spark, TableCatalog(spark, args.warehouse), num_entities=args.entities)
    if args.stage == "all":
        pipe.run(force=args.force)
        print(json.dumps(asdict(pipe.evaluate())))
    elif args.stage == "evaluate":
        print(json.dumps(asdict(pipe.evaluate())))
    else:
        getattr(pipe, args.stage)(force=args.force)


if __name__ == "__main__":
    main()
