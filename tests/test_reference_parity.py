"""Golden parity against the reference's committed outputs: the engine,
run with the reference's shipped config (ngram n=3 blocking on Combined,
Levenshtein weights [.33,.33,.33], θ=0.8 — run_pipeline.py:49), must
reproduce output/Matched_Entities.csv on the actual ACM/DBLP data
byte-for-byte (all 1,698 index pairs) plus the dedup'd dataset shapes.
This is the strongest apples-to-apples correctness anchor available
(r1 VERDICT, 'What's missing' #1).

Keying: the reference identifies records by dataframe row index
(data_loading.py:19), and the datasets contain verbatim duplicate rows
(35 duplicate paperIds in DBLP), so index-keyed runs are required for
exact parity — load_publications(with_index=True) supplies it.
"""

from __future__ import annotations

import csv
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from entity_resolution_pipeline_spark.operators.linkage import (
    deduplicate_linked,
    link_publications,
    load_publications,
)

REF = Path("/root/reference")
ACM = str(REF / "data" / "ACM_1995_2004.csv")
DBLP = str(REF / "data" / "DBLP_1995_2004.csv")

pytestmark = pytest.mark.skipif(
    not (REF / "data").exists(),
    reason=f"golden parity not run: {REF / 'data'} is absent",
)


@pytest.fixture(scope="module")
def pubs(spark):
    acm = load_publications(spark, ACM, with_index=True).cache()
    dblp = load_publications(spark, DBLP, with_index=True).cache()
    return acm, dblp


@pytest.fixture(scope="module")
def matched(spark, pubs):
    acm, dblp = pubs
    return link_publications(acm, dblp, id_col="idx").localCheckpoint(eager=True)


def _golden_rows():
    with open(REF / "output" / "Matched_Entities.csv") as f:
        return list(csv.DictReader(f))


def _golden_ids(name, col="paperId"):
    with open(REF / "output" / name) as f:
        return [row[col] for row in csv.DictReader(f)]


def test_matched_entities_exact(matched):
    """The matched set equals the committed golden file exactly — all
    1,698 (index_acm, index_dblp) pairs, no extras, no misses."""
    golden = {
        (int(r["index_acm"]), int(r["index_dblp"])) for r in _golden_rows()
    }
    assert len(golden) == 1698
    got = {(r.id1, r.id2) for r in matched.select("id1", "id2").collect()}
    missing = golden - got
    extra = got - golden
    assert not missing and not extra, (
        f"missing={sorted(missing)[:5]} extra={sorted(extra)[:5]} "
        f"(|got|={len(got)}, |golden|={len(golden)})"
    )


def test_matched_paperid_mapping(pubs, matched):
    """The paperId columns of the golden file agree with the index →
    paperId mapping of the matched output."""
    acm, dblp = pubs
    a = {r.idx: r.paperId for r in acm.select("idx", "paperId").collect()}
    d = {r.idx: r.paperId for r in dblp.select("idx", "paperId").collect()}
    golden = {
        (r["paperId_acm"], r["paperId_dblp"]) for r in _golden_rows()
    }
    got = {(a[r.id1], d[r.id2]) for r in matched.select("id1", "id2").collect()}
    assert got == golden


def test_matched_f1_against_reference_is_one(spark, matched):
    """North rule: pairwise F1 ≥ 0.99 on labeled pairs at the same
    blocking key — with the reference's own matched output as labels,
    the engine scores F1 = 1.0."""
    from entity_resolution_pipeline_spark.operators.evaluate import pairwise_f1

    golden = spark.createDataFrame(
        [(int(r["index_acm"]), int(r["index_dblp"])) for r in _golden_rows()],
        "id1 long, id2 long",
    ).distinct()
    m = pairwise_f1(matched.select("id1", "id2"), golden)
    assert m.f1 == 1.0 and m.precision == 1.0 and m.recall == 1.0


def test_hashed_keys_give_identical_matches(spark, pubs, matched):
    """The 8-byte hashed blocking keys (the scale path) produce the same
    matched set as raw n-gram string keys."""
    acm, dblp = pubs
    raw = link_publications(acm, dblp, hash_keys=False, id_col="idx")
    got_raw = {(r.id1, r.id2) for r in raw.select("id1", "id2").collect()}
    got_hash = {(r.id1, r.id2) for r in matched.select("id1", "id2").collect()}
    assert got_raw == got_hash


def test_deduplicated_outputs_match_reference(spark, pubs, matched):
    """Dedup policy parity (clustering.py:40-67): identical output sizes
    and identical drop sets wherever the reference is deterministic.
    The only reference-nondeterministic choice is WHICH ACM member of a
    >2-node cluster is kept (set-iteration order; we keep min(idx)), so
    the ACM keep-sets may differ only within such clusters."""
    acm, dblp = pubs
    acm_dedup, dblp_dedup = deduplicate_linked(acm, dblp, matched, id_col="idx")

    golden_acm = _golden_ids("ACM_deduplicated.csv")
    golden_dblp = _golden_ids("DBLP_deduplicated.csv")
    got_acm = [r.paperId for r in acm_dedup.select("paperId").collect()]
    got_dblp = [r.paperId for r in dblp_dedup.select("paperId").collect()]
    assert len(got_acm) == len(golden_acm) == 2884
    assert len(got_dblp) == len(golden_dblp) == 2111

    # DBLP side: every >2-cluster DBLP member is dropped (deterministic)
    # → the retained DBLP-origin multiset must agree exactly with the
    # golden DBLP-origin portion.
    dblp_all = sorted(r.paperId for r in dblp.select("paperId").collect())
    retained_ours = sorted(p for p in got_dblp if p in set(dblp_all))
    retained_golden = sorted(p for p in golden_dblp if p in set(dblp_all))
    assert retained_ours == retained_golden

    # ACM side: drop counts equal; any keep-set difference is confined
    # to >2-cluster members (representative swaps).
    acm_all = {r.paperId for r in acm.select("paperId").collect()}
    dropped_ours = acm_all - set(got_acm)
    dropped_golden = acm_all - set(golden_acm)
    assert len(dropped_ours) == len(dropped_golden)
    # swapped representatives: ours-dropped ∖ golden-dropped must appear
    # in the golden DBLP output (the reference appended them as cluster
    # representatives) — i.e. both choices come from the same clusters
    swapped = dropped_ours - dropped_golden
    appended_golden = set(golden_dblp) - set(dblp_all)
    assert swapped <= appended_golden


def test_blocking_key_count_sanity(spark, pubs):
    """Candidate generation magnitude matches the reference's ngram
    scheme on this data."""
    from entity_resolution_pipeline_spark.operators.linkage import (
        bipartite_candidate_pairs,
    )

    acm, dblp = pubs
    n = bipartite_candidate_pairs(acm, dblp, id_col="idx").count()
    assert 2_000 < n < 200_000
