"""Parity harness for the size-gated driver twins. Every operator whose
fast path goes through graph._collect_if_small runs once with the gate
open (the driver twin at test scale) and once with the cap forced to 0
(the distributed reference), and both runs must return the same rows
AND column types — including the floor-division grids and round(…, 6)
semantics. When both paths raise, they must raise the same exception
class.

Inputs: the sf0.001 fixture graph, and a 4-edge graph with one NULL
src or dst, or (for the two label-consuming operators) one NULL
community. A dict walk neither joins nor sorts NULL the way SQL does,
so the gate must send those to the distributed path."""

import inspect
import re
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from deepref_spark.operators import graph, linking
from deepref_spark.queries import (
    _canonical_edges,
    _rank_taxonomy,
    _scc_aug_edges,
    clear_stage_cache,
)

SF = "/root/testdata/sf0.001"

# acyclic (so taxonomy_closure converges), with one triangle a-b-c
_SMALL_EDGES = {
    "null_src": [("a", "b"), ("b", "c"), ("a", "c"), (None, "c")],
    "null_dst": [("a", "b"), ("b", "c"), ("a", "c"), ("c", None)],
    "null_label": [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
}
_SMALL_LABELS = {
    "null_label": [("a", "L1"), ("b", "L1"), ("c", None), ("d", "L2")],
}

CASES = {
    "pagerank": lambda g: graph.pagerank(g.edges, iters=3),
    "personalized_pagerank":
        lambda g: graph.personalized_pagerank(g.edges, n_seeds=3, iters=3),
    "hits": lambda g: graph.hits(g.edges, iters=2),
    "multihop": lambda g: graph.multihop(g.edges, max_hops=3),
    "bfs_distances":
        lambda g: graph.bfs_distances(g.edges, n_seeds=3, max_hops=4),
    "harmonic_centrality":
        lambda g: graph.harmonic_centrality(g.edges, n_seeds=3, max_hops=4),
    "stress_centrality":
        lambda g: graph.stress_centrality(g.edges, n_seeds=4, max_hops=4),
    "anf_hyperball": lambda g: graph.anf_hyperball(g.edges, m=16, hops=2),
    "kcore": lambda g: graph.kcore(g.edges, k=3),
    "triangle_counts": lambda g: graph.triangle_counts(g.edges),
    "katz_centrality":
        lambda g: graph.katz_centrality(g.edges, max_hops=4, beta_inv=4),
    "label_prop": lambda g: graph.label_prop(g.edges, iters=2),
    "community_quality":
        lambda g: graph.community_quality(g.edges, g.labels, und=g.und),
    "modularity_profile":
        lambda g: graph.modularity_profile(g.edges, g.labels, und=g.und),
    "wl_refine": lambda g: graph.wl_refine(g.edges, iters=2),
    "ktruss": lambda g: graph.ktruss(g.edges, k=3, max_rounds=8),
    "weighted_sssp":
        lambda g: graph.weighted_sssp(g.edges, n_seeds=2, rounds=3),
    "scc": lambda g: graph.scc(g.scc_edges),
    "scc_condensation": lambda g: graph.scc_condensation(g.scc_edges),
    "bowtie_regions": lambda g: graph.bowtie_regions(g.scc_edges),
    "taxonomy_closure": lambda g: graph.taxonomy_closure(g.taxonomy),
    "sorted_neighborhood_pairs":
        lambda g: linking.sorted_neighborhood_pairs(g.entities, window=3),
}
_LABEL_CASES = ("community_quality", "modularity_profile")

PARAMS = [(op, inp) for op in CASES for inp in ("sf0.001", "null_src", "null_dst")]
PARAMS += [(op, "null_label") for op in _LABEL_CASES]


def _run(build):
    """(sorted rows, [(name, type)]) of the built frame, or the class
    of the exception building or collecting it raised."""
    try:
        out = build()
        rows = sorted((tuple(r) for r in out.collect()), key=repr)
    except Exception as e:  # both paths raising: compare the class
        return type(e)
    return rows, [(f.name, f.dataType) for f in out.schema.fields]


def _both_paths(spark, build):
    """(gate open, gate forced to 0) results of ``build``."""
    driver = _run(build)
    spark.conf.set(graph.DRIVER_CAP_KEY, "0")
    try:
        dist = _run(build)
    finally:
        spark.conf.unset(graph.DRIVER_CAP_KEY)
    return driver, dist


def _small_input(spark, name):
    edges = spark.createDataFrame(_SMALL_EDGES[name], "src string, dst string")
    labels = spark.createDataFrame(
        _SMALL_LABELS.get(name, [("a", "L1"), ("b", "L1"), ("c", "L2")]),
        "entity string, community string")
    return SimpleNamespace(
        edges=edges, und=graph.sym_closure(edges), labels=labels,
        scc_edges=edges,
        taxonomy=edges.select(F.col("src").alias("child"),
                              F.col("dst").alias("parent")),
        entities=edges.select(F.col("src").alias("entity"))
        .union(edges.select(F.col("dst").alias("entity"))))


def _fixture_input(spark):
    edges = _canonical_edges(spark, SF).localCheckpoint()
    und = graph.sym_closure(edges).localCheckpoint()
    return SimpleNamespace(
        edges=edges, und=und,
        labels=graph.label_prop(edges, iters=2, und=und).localCheckpoint(),
        scc_edges=_scc_aug_edges(spark, SF).localCheckpoint(),
        taxonomy=_rank_taxonomy(spark, SF)[1].localCheckpoint(),
        entities=edges.select(F.col("src").alias("entity"))
        .union(edges.select(F.col("dst").alias("entity")))
        .distinct().localCheckpoint())


@pytest.fixture(scope="module")
def inputs(spark):
    clear_stage_cache()
    built = {}

    def get(name):
        if name not in built:
            built[name] = (_fixture_input(spark) if name == "sf0.001"
                           else _small_input(spark, name))
        return built[name]

    yield get
    clear_stage_cache()


@pytest.mark.parametrize("op,inp", PARAMS, ids=[f"{o}-{i}" for o, i in PARAMS])
def test_twin_parity(spark, inputs, monkeypatch, op, inp):
    g = inputs(inp)
    opened = []
    gate = graph._collect_if_small

    def recording_gate(edges, conf_key, *a, **kw):
        res = gate(edges, conf_key, *a, **kw)
        opened.append(res is not None)
        return res

    monkeypatch.setattr(graph, "_collect_if_small", recording_gate)
    driver, dist = _both_paths(spark, lambda: CASES[op](g))
    assert driver == dist
    if inp == "sf0.001":
        # the fixture must exercise the twin, not two distributed runs
        assert driver[0], "empty result"
        assert any(opened), "the driver gate never opened"


def test_every_gated_operator_is_in_the_harness():
    gate_call = re.compile(r"\b(_collect_if_small|_edge_rows_if_small|"
                           r"_community_tallies)\(")
    gated = {
        name
        for mod in (graph, linking)
        for name, fn in vars(mod).items()
        if inspect.isfunction(fn) and fn.__module__ == mod.__name__
        and not name.startswith("_")
        and gate_call.search(inspect.getsource(fn))
    }
    assert gated == set(CASES)


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
    edges = spark.createDataFrame(_MOD_EDGES, "src string, dst string")
    lab = spark.createDataFrame(labels, "entity string, community string")
    driver, dist = _both_paths(
        spark, lambda: graph.modularity_profile(edges, lab))
    assert driver == dist
    assert any(r[0] == "__total__" for r in driver[0])
