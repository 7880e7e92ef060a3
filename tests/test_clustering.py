"""Connected components (large-star/small-star) vs the reference DFS
oracle on the FIXTURES.md F4 graph shapes, including a 1,500-node path
that would blow the reference's recursive DFS and a naive O(diameter)
propagation round count."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_resolution_pipeline_spark.config import ClusteringConfig
from entity_resolution_pipeline_spark.operators.clustering import (
    assign_clusters,
    cluster_representatives,
    connected_components,
    deduplicate_records,
)

from .helpers import dfs_components_py

GRAPHS = {
    "chain": [("a", "b"), ("b", "c"), ("c", "d")],
    "star": [("hub", s) for s in ("s1", "s2", "s3", "s4")],
    "two_components": [("a", "b"), ("c", "d")],
    "bipartite_2x3": [
        ("1_a", "2_x"), ("1_a", "2_y"), ("1_a", "2_z"),
        ("1_b", "2_x"), ("1_b", "2_y"), ("1_b", "2_z"),
    ],
    "self_dup_edges": [("a", "b"), ("b", "a"), ("a", "b")],
}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_components_vs_dfs_oracle(spark, name):
    edges = GRAPHS[name]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.id: r.component_id for r in connected_components(df).collect()}
    assert got == dfs_components_py(edges)


def test_long_path_converges_in_log_rounds(spark):
    """1,500-node path (FIXTURES.md F4): must converge within the
    O(log n) round cap — naive min-propagation would need ~1500 rounds."""
    n = 1500
    edges = [(f"n{i:05d}", f"n{i + 1:05d}") for i in range(n - 1)]
    df = spark.createDataFrame(edges, ["src", "dst"]).repartition(8)
    labels = connected_components(df, ClusteringConfig(max_rounds=20))
    rows = labels.collect()
    assert len(rows) == n
    assert {r.component_id for r in rows} == {"n00000"}


def test_star_edges_run_zero_rounds(spark):
    """Edges that form stars around their minimum id are the fixpoint,
    in either direction and with duplicates: the star check accepts
    them before any round, so ``max_rounds=0`` suffices."""
    edges = GRAPHS["star"] + [("b", "a"), ("a", "c"), ("c", "a")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    labels = connected_components(df, ClusteringConfig(max_rounds=0))
    got = {r.id: r.component_id for r in labels.collect()}
    assert got == dfs_components_py(edges)


def test_path_needs_a_round(spark):
    df = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge in 0 rounds"):
        connected_components(df, ClusteringConfig(max_rounds=0)).collect()


def test_pipeline_cluster_honours_max_rounds(spark, tmp_path):
    """ERPipeline.cluster runs connected components under the pipeline's
    ClusteringConfig: one round cannot close a long chain."""
    from entity_resolution_pipeline_spark.config import PipelineConfig
    from entity_resolution_pipeline_spark.plans.pipeline import ERPipeline
    from entity_resolution_pipeline_spark.sources.catalog import TableCatalog

    n = 200
    cat = TableCatalog(spark, str(tmp_path / "wh"))
    cat.write(
        "extracted",
        spark.range(n).select(
            F.col("id").alias("rid"), F.format_string("u%05d", "id").alias("url")
        ),
    )
    chain = [(i, i + 1) for i in range(n - 1)]
    cat.write("matched", spark.createDataFrame(chain, "id1 long, id2 long"))
    pipe = ERPipeline(spark, cat, PipelineConfig(clustering=ClusteringConfig(max_rounds=1)))
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        pipe.cluster(force=True)


def test_assign_clusters_and_dedup(spark):
    records = spark.createDataFrame(
        [("u1", "x"), ("u2", "x"), ("u3", "y"), ("u4", "z")], ["url", "payload"]
    )
    matched = spark.createDataFrame([("u1", "u2")], ["id1", "id2"])
    clustered = assign_clusters(records, matched)
    got = {r.url: r.entity_cluster for r in clustered.collect()}
    assert got == {"u1": "u1", "u2": "u1", "u3": "u3", "u4": "u4"}

    deduped = deduplicate_records(records, clustered)
    assert {r.url for r in deduped.collect()} == {"u1", "u3", "u4"}


def test_cluster_representatives(spark):
    labels = spark.createDataFrame(
        [("u1", "u1"), ("u2", "u1"), ("u3", "u3")], ["id", "component_id"]
    )
    reps = cluster_representatives(labels, ClusteringConfig(min_cluster_size=2))
    rows = reps.collect()
    assert len(rows) == 1
    assert rows[0].representative == "u1" and rows[0].cluster_size == 2


def test_greedy_bipartite_clusters_reference_semantics(spark):
    """C4 parity: greedy incremental clustering skips merge pairs
    (finer partition than connected components) and absorbs the one-hop
    neighborhood of a founding pair."""
    from entity_resolution_pipeline_spark.operators.clustering import (
        greedy_bipartite_clusters,
    )

    # order (id1, id2) asc: (1,10) founds c0 and one-hop pulls right 25
    # (via edge (1,25)); (2,20) founds c1 (25 already clustered, not
    # re-pulled); (2,25) then arrives with BOTH endpoints clustered
    # (2 in c1, 25 in c0) -> skipped: clusters stay separate, whereas
    # connected components would merge them
    matched = spark.createDataFrame(
        [(1, 10), (1, 25), (2, 20), (2, 25)], "id1 long, id2 long"
    )
    rows = greedy_bipartite_clusters(matched).collect()
    cl = {(r.side, r.rid): r.cluster_id for r in rows}
    assert cl[("left", 1)] == cl[("right", 10)] == cl[("right", 25)]
    assert cl[("left", 2)] == cl[("right", 20)]
    assert cl[("left", 1)] != cl[("left", 2)]  # greedy: no merge (C4 != C3)
    assert len(rows) == 5


def test_greedy_bipartite_clusters_preserves_string_ids(spark):
    """ADVICE r2: string ids (link_publications paperIds) must survive —
    the old cast-to-long silently nulled them all."""
    from entity_resolution_pipeline_spark.operators.clustering import (
        greedy_bipartite_clusters,
    )

    matched = spark.createDataFrame(
        [("acmA", "dblpX"), ("acmA", "dblpY"), ("acmB", "dblpZ")],
        "id1 string, id2 string",
    )
    rows = greedy_bipartite_clusters(matched).collect()
    cl = {(r.side, r.rid): r.cluster_id for r in rows}
    assert cl[("left", "acmA")] == cl[("right", "dblpX")] == cl[("right", "dblpY")]
    assert cl[("left", "acmB")] == cl[("right", "dblpZ")]
    assert cl[("left", "acmA")] != cl[("left", "acmB")]
    assert len(rows) == 5
    assert all(r.rid is not None for r in rows)


def test_greedy_bipartite_clusters_guards_web_scale_input(spark):
    """r2 VERDICT #3: the single-task parity kernel must refuse oversized
    input loudly instead of OOMing an executor."""
    from entity_resolution_pipeline_spark.operators.clustering import (
        greedy_bipartite_clusters,
    )

    matched = spark.range(100).select(
        F.col("id").alias("id1"), (F.col("id") + 1000).alias("id2")
    )
    with pytest.raises(ValueError, match="max_pairs"):
        greedy_bipartite_clusters(matched, max_pairs=10)
    # and the same input runs fine under the cap
    assert greedy_bipartite_clusters(matched, max_pairs=1000).count() == 200


def test_connected_components_leaves_session_conf_alone(spark):
    """ADVICE r2: the fixpoint loop must not mutate the session-global
    shuffle width (concurrent queries would silently inherit it)."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    calls = []
    orig_set = spark.conf.set

    def spy(key, value):
        calls.append(key)
        return orig_set(key, value)

    spark.conf.set = spy
    try:
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y")], ["src", "dst"]
        )
        got = {r.id: r.component_id for r in connected_components(edges).collect()}
    finally:
        spark.conf.set = orig_set
    assert got == dfs_components_py([("a", "b"), ("b", "c"), ("x", "y")])
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert "spark.sql.shuffle.partitions" not in calls


def test_greedy_bipartite_clusters_struct_ids(spark):
    """id_bits=128 struct rids must survive the greedy kernel (Arrow
    hands struct cells to pandas as dicts — canonicalized to orderable
    strings internally; sign-flip hex keeps numeric order) AND come
    back as the ORIGINAL struct ids, joinable to the records
    (ADVICE r3)."""
    from entity_resolution_pipeline_spark.operators.clustering import (
        greedy_bipartite_clusters,
    )

    matched = spark.createDataFrame(
        [((1, -5), (10, 3)), ((1, -5), (25, 7)), ((2, 9), (20, -1))],
        "id1 struct<h1:long,h2:long>, id2 struct<h1:long,h2:long>",
    )
    rows = greedy_bipartite_clusters(matched).collect()
    assert len(rows) == 5
    # decoded back to the original struct ids, not hex encodings
    assert {tuple(r.rid) for r in rows if r.side == "left"} == {(1, -5), (2, 9)}
    assert {tuple(r.rid) for r in rows if r.side == "right"} == {
        (10, 3),
        (25, 7),
        (20, -1),
    }
    cl = {(r.side, tuple(r.rid)): r.cluster_id for r in rows}
    # the two right-ids founded by left (1,-5) share its cluster
    by_cluster = {}
    for (side, rid), c in cl.items():
        by_cluster.setdefault(c, set()).add((side, rid))
    sizes = sorted(len(v) for v in by_cluster.values())
    assert sizes == [2, 3]
