"""Repository guardrails: import-time dependencies, the Arrow-only
Python boundary and higher-order-function lambdas that capture their
input (docs/PLANS.md, "Arrow boundaries")."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from entity_resolution_pipeline_spark.functions.text import (
    char_ngrams,
    doc_fingerprint,
    word_ngrams,
)
from entity_resolution_pipeline_spark.operators.dedup import shingles
from entity_resolution_pipeline_spark.operators.linkage import _combined_ngrams
from entity_resolution_pipeline_spark.streaming.neardup import banded_minhash_index

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "entity_resolution_pipeline_spark"


def test_curate_imports_without_pandas():
    """Builtin-only paths must not need pandas at import time: the
    curate plan (and the corpus operators under it) import with pandas
    blocked."""
    code = (
        "import sys; sys.modules['pandas'] = None; "
        "import entity_resolution_pipeline_spark.plans.curate"
    )
    res = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True
    )
    assert res.returncode == 0, res.stderr


def test_no_row_at_a_time_udfs():
    """Python touches data only through Arrow batches: no ``F.udf(`` or
    ``@udf`` anywhere in the package."""
    hits = [
        f"{path.relative_to(ROOT)}:{i}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "F.udf(" in line or "@udf" in line
    ]
    assert hits == []


NGRAM_BUILDERS = {
    "word_ngrams": lambda c: word_ngrams(c, 3),
    "shingles": lambda c: shingles(c, 3),
    "char_ngrams": lambda c: char_ngrams(c, 3),
    "doc_fingerprint": lambda c: doc_fingerprint(c, 8),
    "linkage_ngrams": lambda c: _combined_ngrams(F.col(c), 3),
}


@pytest.mark.parametrize("name", sorted(NGRAM_BUILDERS))
def test_ngram_builders_reference_their_input_once(spark, name):
    """Spark re-evaluates an outer expression a lambda captures once per
    window; each builder must bind its input with ``text.let`` so the
    input column appears once in the expression."""
    col = NGRAM_BUILDERS[name]("sentinel_input_col")
    assert str(col).count("sentinel_input_col") == 1, str(col)


def test_streaming_minhash_builds_shingles_once(spark):
    """The per-row MinHash index normalizes each document once: the
    plan holds ``normalize_text``'s two ``regexp_replace`` once, not once
    per signature (or again in a pushed-down filter)."""
    df = spark.createDataFrame([(1, "a b c d"), (2, "hi")], ["doc_id", "text"])
    plan = banded_minhash_index(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("regexp_replace(") == 2, plan
