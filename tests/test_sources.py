"""Sources/sinks (SURVEY §2.1): pipe-CSV scan with explicit schema
(S3/S4), CSV sink round-trip (S5/S6), source dedup (S2), catalog
metrics sink (S7 analog), and the synthetic generator's determinism
(S8 analog — replaces the reference's random replication)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from entity_resolution_pipeline_spark.sources.catalog import TableCatalog
from entity_resolution_pipeline_spark.sources.synth import synth_pages

# the reference's record schema (distributed_er_pipeline.py:21-27)
PUB_SCHEMA = StructType(
    [
        StructField("paperId", StringType()),
        StructField("title", StringType()),
        StructField("authors", StringType()),
        StructField("venue", StringType()),
        StructField("year", IntegerType()),
    ]
)

CSV_ROWS = [
    "paperId|title|authors|venue|year",
    "p1|Query Optimization|Alice Smith, Bob Lee|sigmod|1999",
    "p2|Stream Processing|Carol Jones|vldb|2001",
    "p2|Stream Processing|Carol Jones|vldb|2001",  # dup row (S2)
    "p3|Missing Venue||  |2004",
]


def test_pipe_csv_scan_explicit_schema(spark, tmp_path):
    """S3/S4: sep='|', header, explicit schema, fillna('') — the
    reference's own load contract (data_loading.py:9-19)."""
    src = tmp_path / "pubs.csv"
    src.write_text("\n".join(CSV_ROWS) + "\n")
    df = (
        spark.read.schema(PUB_SCHEMA)
        .option("sep", "|")
        .option("header", True)
        .csv(str(src))
        .na.fill("")
    )
    rows = df.collect()
    assert len(rows) == 4
    # nullability metadata may differ post-fillna; names+types must match
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in PUB_SCHEMA
    ]
    by_id = {r.paperId: r for r in rows}
    assert by_id["p1"].year == 1999
    assert by_id["p3"].authors == ""  # fillna applied


def test_source_dedup(spark, tmp_path):
    """S2: drop_duplicates(keep='first') → distributed dropDuplicates."""
    src = tmp_path / "pubs2.csv"
    src.write_text("\n".join(CSV_ROWS) + "\n")
    df = (
        spark.read.schema(PUB_SCHEMA)
        .option("sep", "|")
        .option("header", True)
        .csv(str(src))
    )
    assert df.count() == 4
    assert df.dropDuplicates().count() == 3


def test_csv_sink_roundtrip(spark, tmp_path):
    """S5/S6: header CSV write (partitioned, NOT coalesce(1) — the
    reference's single-writer bottleneck, distributed_er_pipeline.py:208)
    and lossless read-back."""
    out = str(tmp_path / "out_csv")
    df = spark.createDataFrame(
        [("p1", "t one", 1999), ("p2", "t two", 2001)], ["paperId", "title", "year"]
    )
    df.write.option("header", True).mode("overwrite").csv(out)
    back = (
        spark.read.option("header", True)
        .schema("paperId string, title string, year int")
        .csv(out)
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_catalog_metrics_and_lineage(spark, tmp_path):
    """S7 analog: every checkpoint appends a metrics row; per-partition
    lineage is queryable (north-rule observability)."""
    cat = TableCatalog(spark, str(tmp_path / "wh"))
    pages = synth_pages(spark, 50)
    cat.write("pages", pages, fingerprint="abc")
    metrics = cat.metrics()
    assert len(metrics) == 1
    assert metrics[0]["table"] == "pages"
    assert metrics[0]["rows"] == cat.read("pages").count()
    assert metrics[0]["fingerprint"] == "abc"
    lineage = cat.partition_lineage("pages")
    assert lineage.agg(F.sum("rows")).collect()[0][0] == metrics[0]["rows"]


def test_catalog_failed_overwrite_is_not_resumable(spark, tmp_path):
    """An overwrite that dies midway must not leave the table looking
    complete under the previous fingerprint: the resume check would
    otherwise read partial output as a finished stage."""
    cat = TableCatalog(spark, str(tmp_path / "wh"))
    cat.write("t", spark.range(10), fingerprint="a")
    assert cat.exists("t", "a")
    boom = spark.range(10).select(
        F.when(F.col("id") == 7, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id"))
        .alias("id")
    )
    with pytest.raises(Exception, match="boom"):
        cat.write("t", boom, fingerprint="a")
    assert not cat.exists("t", "a")
    assert not cat.exists("t")


def test_catalog_exists_requires_success_marker(spark, tmp_path):
    cat = TableCatalog(spark, str(tmp_path / "wh"))
    cat.write("t", spark.range(10), fingerprint="a")
    assert cat.exists("t", "a")
    (tmp_path / "wh" / "t" / "_SUCCESS").unlink()
    assert not cat.exists("t", "a")
    assert not cat.exists("t")


def test_catalog_read_keeps_parquet_schema(spark, tmp_path):
    """The sidecar schema replaces inference without changing what a
    reader sees: nested, struct-rid, timestamp and binary columns read
    back exactly as a plain parquet scan infers them."""
    cat = TableCatalog(spark, str(tmp_path / "wh"))
    df = spark.sql(
        "SELECT array('a', 'b') AS tokens,"
        " named_struct('h1', 1L, 'h2', -2L) AS rid,"
        " TIMESTAMP'2024-05-01 12:00:00' AS ts,"
        " CAST('xy' AS BINARY) AS raw"
    )
    written = cat.write("t", df)
    inferred = spark.read.parquet(str(tmp_path / "wh" / "t")).schema
    assert written.schema == inferred
    assert cat.read("t").schema == inferred
    assert cat.read("t").collect() == df.collect()


def test_catalog_empty_write_records_zero_rows(spark, tmp_path):
    cat = TableCatalog(spark, str(tmp_path / "wh"))
    cat.write("t", spark.range(10).where(F.col("id") > 100))
    assert cat.metrics()[0]["rows"] == 0
    assert cat.read("t").count() == 0


def test_catalog_reads_sidecar_without_schema(spark, tmp_path):
    """A warehouse written before sidecars stored the schema still reads
    (schema inference)."""
    cat = TableCatalog(spark, str(tmp_path / "wh"))
    cat.write("t", spark.range(3), fingerprint="a")
    meta_path = tmp_path / "wh" / "t._meta.json"
    meta = json.loads(meta_path.read_text())
    del meta["schema"]
    meta_path.write_text(json.dumps(meta))
    assert cat.exists("t", "a")
    assert sorted(r.id for r in cat.read("t").collect()) == [0, 1, 2]


def test_catalog_read_missing_table_names_it(spark, tmp_path):
    cat = TableCatalog(spark, str(tmp_path / "wh"))
    with pytest.raises(FileNotFoundError, match=r"'matched'.*wh"):
        cat.read("matched")


def test_synth_determinism_and_rates(spark):
    """S8 analog: the generator is a pure function — two invocations are
    row-identical (the reference's scaler uses random.randint,
    scalability_test.py:9-31, which breaks resume)."""
    a = synth_pages(spark, 100).orderBy("url").collect()
    b = synth_pages(spark, 100).orderBy("url").collect()
    assert a == b
    # planted group structure: ~30% of entities non-singleton
    sizes = (
        synth_pages(spark, 500)
        .groupBy("entity_id")
        .count()
        .groupBy("count")
        .count()
        .collect()
    )
    dist = {r["count"]: r["count(1)"] if "count(1)" in r else r[1] for r in sizes}
    assert set(dist) <= {1, 2, 3, 5}
    non_singleton = sum(v for k, v in dist.items() if k > 1)
    assert 0.2 < non_singleton / 500 < 0.6
