"""Arrow md5 window kernel of ``operators.corpus.remove_duplicate_spans``.

A module of its own so that pandas is imported only when the span
operator runs: ``operators.corpus`` and ``plans.curate`` import
without it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf


def window_md5_udf(k: int):
    """Arrow-batched window-digest kernel: per document, the md5 hex
    digest of every ``k``-token shingle (single-space-joined) — the
    value the DuckDB oracle computes as ``md5(array_to_string(...))``.

    The document's tokens are joined to ONE utf-8 buffer and each
    window is a zero-copy memoryview slice fed to C md5 — O(k·n) bytes
    hashed at memcpy speed, versus Spark's interpreted evaluator running
    a per-window concat+md5 expression tree (~k× the char mass of
    interpreted work per row)."""

    @pandas_udf("array<string>")
    def window_md5(toks: pd.Series) -> pd.Series:
        import hashlib
        from itertools import accumulate

        md = hashlib.md5
        out = []
        for row in toks:
            n = 0 if row is None else len(row)
            if n < k:
                out.append([])
                continue
            bs = [t.encode("utf-8") for t in row]
            mv = memoryview(b" ".join(bs))
            # cum[i] = total token bytes through token i; token i starts
            # at cum[i-1] + i (i separator spaces precede it)
            cum = list(accumulate(len(b) for b in bs))
            out.append(
                [
                    md(
                        mv[(cum[i - 1] + i if i else 0) : cum[i + k - 1] + i + k - 1]
                    ).hexdigest()
                    for i in range(n - k + 1)
                ]
            )
        return pd.Series(out)

    return window_md5
