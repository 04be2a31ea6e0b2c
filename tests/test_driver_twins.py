"""Round-6 size-adaptive driver paths must be row-identical to the
distributed fallbacks they gate (same discipline as the linking.py
union-find twin): run each operator once with the default gate (driver
path at test scale) and once with the cap forced to 0 (distributed
path), and compare full sorted row sets exactly — including the
floor-division grids and round(…, 6) semantics."""

import pytest

from deepref_spark.queries import (
    _canonical_edges,
    _rank_taxonomy,
    _scc_aug_edges,
    clear_stage_cache,
)

SF = "/root/testdata/sf0.001"

GATES = (
    "deepref.graph.driver_max_edges",
    "deepref.scc.driver_max_edges",
    "deepref.taxonomy.driver_max_edges",
    "deepref.er.driver_max_entities",
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _both_paths(spark, build):
    driver = _rows(build())
    for g in GATES:
        spark.conf.set(g, "0")
    try:
        dist = _rows(build())
    finally:
        for g in GATES:
            spark.conf.unset(g)
    return driver, dist


@pytest.fixture(scope="module")
def edges(spark):
    clear_stage_cache()
    e = _canonical_edges(spark, SF).localCheckpoint()
    yield e
    clear_stage_cache()


def test_pagerank_twin(spark, edges):
    from deepref_spark.operators.graph import pagerank

    a, b = _both_paths(spark, lambda: pagerank(edges, iters=3))
    assert a == b and a


def test_personalized_pagerank_twin(spark, edges):
    from deepref_spark.operators.graph import personalized_pagerank

    a, b = _both_paths(
        spark, lambda: personalized_pagerank(edges, n_seeds=3, iters=3))
    assert a == b and a


def test_hits_twin(spark, edges):
    from deepref_spark.operators.graph import hits

    a, b = _both_paths(spark, lambda: hits(edges, iters=2))
    assert a == b and a


def test_multihop_twin(spark, edges):
    from deepref_spark.operators.graph import multihop

    a, b = _both_paths(spark, lambda: multihop(edges, max_hops=3))
    assert a == b and a


def test_bfs_distances_twin(spark, edges):
    from deepref_spark.operators.graph import bfs_distances

    a, b = _both_paths(
        spark, lambda: bfs_distances(edges, n_seeds=3, max_hops=4))
    assert a == b and a


def test_harmonic_centrality_twin(spark, edges):
    from deepref_spark.operators.graph import harmonic_centrality

    a, b = _both_paths(
        spark, lambda: harmonic_centrality(edges, n_seeds=3, max_hops=4))
    assert a == b and a


def test_stress_centrality_twin(spark, edges):
    from deepref_spark.operators.graph import stress_centrality

    a, b = _both_paths(
        spark, lambda: stress_centrality(edges, n_seeds=4, max_hops=4))
    assert a == b and a


def test_anf_hyperball_twin(spark, edges):
    from deepref_spark.operators.graph import anf_hyperball

    a, b = _both_paths(spark, lambda: anf_hyperball(edges, m=16, hops=2))
    assert a == b and a


def test_kcore_twin(spark, edges):
    from deepref_spark.operators.graph import kcore

    a, b = _both_paths(spark, lambda: kcore(edges, k=3))
    assert a == b and a


def test_triangle_counts_twin(spark, edges):
    from deepref_spark.operators.graph import triangle_counts

    a, b = _both_paths(spark, lambda: triangle_counts(edges))
    assert a == b and a


def test_katz_twin(spark, edges):
    from deepref_spark.operators.graph import katz_centrality

    a, b = _both_paths(
        spark, lambda: katz_centrality(edges, max_hops=4, beta_inv=4))
    assert a == b and a


def test_scc_family_twins(spark):
    from deepref_spark.operators.graph import (
        bowtie_regions,
        scc,
        scc_condensation,
    )

    clear_stage_cache()
    aug = _scc_aug_edges(spark, SF).localCheckpoint()
    for fn in (scc, scc_condensation, bowtie_regions):
        a, b = _both_paths(spark, lambda: fn(aug))
        assert a == b and a, fn.__name__
    clear_stage_cache()


def test_taxonomy_closure_twin(spark):
    from deepref_spark.operators.graph import taxonomy_closure

    clear_stage_cache()
    _, tax = _rank_taxonomy(spark, SF)
    tax = tax.localCheckpoint()
    a, b = _both_paths(spark, lambda: taxonomy_closure(tax))
    assert a == b and a
    clear_stage_cache()


def test_label_prop_twin(spark, edges):
    from deepref_spark.operators.graph import label_prop

    a, b = _both_paths(spark, lambda: label_prop(edges, iters=2))
    assert a == b and a


def test_community_quality_twin(spark, edges):
    from deepref_spark.operators.graph import (
        community_quality, label_prop, sym_closure,
    )

    und = sym_closure(edges).localCheckpoint()
    labels = label_prop(edges, iters=2, und=und).localCheckpoint()
    a, b = _both_paths(
        spark, lambda: community_quality(edges, labels, und=und))
    assert a == b and a


def test_modularity_profile_twin(spark, edges):
    from deepref_spark.operators.graph import (
        label_prop, modularity_profile, sym_closure,
    )

    und = sym_closure(edges).localCheckpoint()
    labels = label_prop(edges, iters=2, und=und).localCheckpoint()
    a, b = _both_paths(
        spark, lambda: modularity_profile(edges, labels, und=und))
    assert a == b and a


def test_wl_refine_twin(spark, edges):
    from deepref_spark.operators.graph import wl_refine

    a, b = _both_paths(spark, lambda: wl_refine(edges, iters=2))
    assert a == b and a


def test_ktruss_twin(spark, edges):
    from deepref_spark.operators.graph import ktruss

    a, b = _both_paths(spark, lambda: ktruss(edges, k=3, max_rounds=8))
    assert a == b and a


def test_weighted_sssp_twin(spark, edges):
    from deepref_spark.operators.graph import weighted_sssp

    a, b = _both_paths(
        spark, lambda: weighted_sssp(edges, n_seeds=2, rounds=3))
    assert a == b and a


def test_sorted_neighborhood_twin(spark, edges):
    from deepref_spark.operators.linking import sorted_neighborhood_pairs
    from pyspark.sql import functions as F

    ents = (edges.select(F.col("src").alias("entity"))
            .union(edges.select(F.col("dst").alias("entity")))
            .distinct().localCheckpoint())
    a, b = _both_paths(
        spark, lambda: sorted_neighborhood_pairs(ents, window=3))
    assert a == b and a


_MOD_EDGES = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "x"), ("x", "y")]


@pytest.mark.parametrize("labels", [
    # every node labelled: the driver path's home ground
    [("a", "L1"), ("b", "L1"), ("c", "L1"), ("x", "L2"), ("y", "L2")],
    # labels disjoint from the edges: no edge end carries a label
    [("p", "L1"), ("q", "L2")],
    # a NULL community on an edge end
    [("a", "L1"), ("b", "L1"), ("c", None), ("x", "L2"), ("y", "L2")],
    # a NULL entity next to real labels
    [("a", "L1"), ("b", "L1"), (None, "L2"), ("x", "L2")],
], ids=["labelled", "disjoint", "null_community", "null_entity"])
def test_modularity_profile_twin_adversarial(spark, labels):
    """The driver path must equal the distributed path (rows AND
    column types) on inputs where a dict walk and a SQL join disagree
    unless the gate falls through: disjoint labels (NULL __total__
    sums) and NULL entities/communities."""
    from deepref_spark.operators.graph import modularity_profile

    edges = spark.createDataFrame(_MOD_EDGES, "src string, dst string")
    lab = spark.createDataFrame(labels, "entity string, community string")

    def run():
        out = modularity_profile(edges, lab)
        rows = sorted((tuple(r) for r in out.collect()), key=repr)
        return rows, [f.dataType for f in out.schema.fields]

    gate = "deepref.graph.driver_max_edges"
    driver = run()
    spark.conf.set(gate, "0")
    try:
        dist = run()
    finally:
        spark.conf.unset(gate)
    assert driver == dist
    assert any(r[0] == "__total__" for r in driver[0])
