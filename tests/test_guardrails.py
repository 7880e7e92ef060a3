"""Repository guardrails: import-time dependencies and the Arrow-only
Python boundary (docs/PLANS.md, "Arrow boundaries")."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

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
