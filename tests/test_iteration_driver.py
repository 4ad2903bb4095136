"""The shared power-iteration driver (``pagerank._iterate``) and the
default checkpoint roots of the iterative operators.

Without a caller's ``checkpoint`` an operator writes its durable
cadence under a temporary root.  That root must be gone when the call
returns, and the returned frame must not read from it: it has to
survive ``clearCache`` and equal a run against an explicit manager.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from conftest import edges_df
from oracles import F2_EDGES
from pagerank_spark import graph
from pagerank_spark.checkpoint import CheckpointManager
from pagerank_spark.operators.bfs import bfs_depths
from pagerank_spark.operators.centrality import multi_source_bfs
from pagerank_spark.operators.coloring import greedy_coloring
from pagerank_spark.operators.components import connected_components
from pagerank_spark.operators.densest import densest_subgraph
from pagerank_spark.operators.eigencentrality import eigenvector_centrality
from pagerank_spark.operators.hits import hits
from pagerank_spark.operators.katz import katz_centrality
from pagerank_spark.operators.labelprop import label_propagation
from pagerank_spark.operators.labelspread import label_spreading
from pagerank_spark.operators.matching import maximal_matching
from pagerank_spark.operators.mis import maximal_independent_set
from pagerank_spark.operators.neighborhood import neighborhood_function
from pagerank_spark.operators.pagerank import pagerank
from pagerank_spark.operators.ppr import personalized_pagerank
from pagerank_spark.operators.salsa import salsa
from pagerank_spark.operators.scc import (condensation_levels,
                                         strongly_connected_components)
from pagerank_spark.operators.spectral import fiedler_vector
from pagerank_spark.operators.sssp import shortest_paths
from pagerank_spark.operators.structure import core_decomposition, k_core
from pagerank_spark.operators.truss import k_truss
from pagerank_spark.operators.walks import node2vec_walks, random_walks
from pagerank_spark.operators.weighted import weighted_pagerank

# The default checkpoint interval of every entry point below.
CADENCE = 8
# Every CADENCE-run entry point below needs more than CADENCE rounds on
# a sorted path of this length.
PATH = [(i, i + 1) for i in range(255)]
# Two directed 3-cycles joined by an edge, and a tail.
CYCLES = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3), (5, 6)]


def _f2(spark):
    return graph.prepare(edges_df(spark, F2_EDGES))


def _weighted_f2(spark):
    return edges_df(spark, F2_EDGES).withColumn(
        "weight", (F.col("dst") % 4 + 1).cast("double"))


FAMILY = {
    "pagerank": lambda spark, **kw: pagerank(_f2(spark), **kw),
    "personalized_pagerank": lambda spark, **kw: personalized_pagerank(
        _f2(spark), [0], **kw),
    "weighted_pagerank": lambda spark, **kw: weighted_pagerank(
        _weighted_f2(spark), **kw),
    "katz_centrality": lambda spark, **kw: katz_centrality(
        _f2(spark), alpha=0.2, **kw),
    "eigenvector_centrality": lambda spark, **kw: eigenvector_centrality(
        _f2(spark), **kw),
}

# Each returns the operator's result frame after CADENCE iterations.
# The family runs its default backend (local on these graphs) and the
# distributed broadcast loop.
ENTRY_POINTS = {
    **{name: (lambda spark, ck, run=run: run(
        spark, tol=0.0, max_iter=CADENCE, checkpoint=ck).ranks)
       for name, run in FAMILY.items()},
    **{f"{name}/broadcast": (lambda spark, ck, run=run: run(
        spark, tol=0.0, max_iter=CADENCE, checkpoint=ck,
        gather_mode="broadcast").ranks)
       for name, run in FAMILY.items()},
    "connected_components": lambda spark, ck: connected_components(
        edges_df(spark, PATH), max_iter=CADENCE, checkpoint=ck),
    "label_propagation": lambda spark, ck: label_propagation(
        edges_df(spark, PATH), max_iter=CADENCE, checkpoint=ck),
    "bfs_depths": lambda spark, ck: bfs_depths(
        edges_df(spark, PATH), [0], max_depth=CADENCE, checkpoint=ck),
    "multi_source_bfs": lambda spark, ck: multi_source_bfs(
        edges_df(spark, PATH), [0], max_depth=CADENCE, checkpoint=ck),
    "shortest_paths": lambda spark, ck: shortest_paths(
        edges_df(spark, PATH).withColumn("weight", F.lit(1.0)), [0],
        max_rounds=CADENCE, checkpoint=ck),
    "neighborhood_function": lambda spark, ck: neighborhood_function(
        edges_df(spark, PATH), CADENCE, n_sketches=4, checkpoint=ck),
    "random_walks": lambda spark, ck: random_walks(
        edges_df(spark, PATH), [0], num_steps=CADENCE, checkpoint=ck),
    "node2vec_walks": lambda spark, ck: node2vec_walks(
        edges_df(spark, PATH), [0], num_steps=CADENCE, checkpoint=ck),
    "hits": lambda spark, ck: hits(
        edges_df(spark, PATH), tol=0.0, max_iter=CADENCE, checkpoint=ck),
    "salsa": lambda spark, ck: salsa(
        edges_df(spark, PATH), tol=0.0, max_iter=CADENCE, checkpoint=ck),
    "fiedler_vector": lambda spark, ck: fiedler_vector(
        edges_df(spark, PATH), iterations=CADENCE, checkpoint=ck),
    "label_spreading": lambda spark, ck: label_spreading(
        edges_df(spark, PATH),
        spark.createDataFrame([(0, 0), (255, 1)], "id BIGINT, label BIGINT"),
        iterations=CADENCE, checkpoint=ck),
    "k_core": lambda spark, ck: k_core(
        edges_df(spark, PATH), 2, max_rounds=CADENCE, checkpoint=ck),
    "core_decomposition": lambda spark, ck: core_decomposition(
        edges_df(spark, PATH), max_rounds=CADENCE, checkpoint=ck),
}

# Entry points whose round count the data decides: both runs commit
# every round, so each ends on a committed state too.
EVERY_ROUND = {
    "maximal_matching": lambda spark, ck: maximal_matching(
        edges_df(spark, PATH), checkpoint=ck, checkpoint_interval=1),
    "greedy_coloring": lambda spark, ck: greedy_coloring(
        edges_df(spark, PATH), checkpoint=ck, checkpoint_interval=1),
    "maximal_independent_set": lambda spark, ck: maximal_independent_set(
        edges_df(spark, PATH), checkpoint=ck, checkpoint_interval=1),
    "k_truss": lambda spark, ck: k_truss(
        edges_df(spark, CYCLES + [(0, 3), (1, 3)]), 3, checkpoint=ck,
        checkpoint_interval=1),
    "densest_subgraph": lambda spark, ck: densest_subgraph(
        edges_df(spark, CYCLES), checkpoint=ck,
        checkpoint_interval=1).vertices,
    "strongly_connected_components": lambda spark, ck:
        strongly_connected_components(edges_df(spark, CYCLES), checkpoint=ck,
                                      checkpoint_interval=1),
    "condensation_levels": lambda spark, ck: condensation_levels(
        edges_df(spark, CYCLES), checkpoint=ck, checkpoint_interval=1),
}

COMMON_KEYS = {"iteration", "l1", "prev_l1", "dangling_mass", "sum_pr",
               "wall_ms", "rows", "num_partitions",
               "plan", "num_edges", "n", "est_bytes", "budget_bytes"}


@pytest.mark.parametrize("name", sorted(ENTRY_POINTS) + sorted(EVERY_ROUND))
def test_default_root_removed_and_result_detached(spark, tmp_path,
                                                  monkeypatch, name):
    run = ENTRY_POINTS.get(name) or EVERY_ROUND[name]
    ck = CheckpointManager(spark, str(tmp_path / "explicit"),
                           interval=CADENCE if name in ENTRY_POINTS else 1)
    want = sorted(run(spark, ck).collect())
    # The last iteration was a durable one: the default-root run below
    # ends on a state read back from its temporary root.
    if name in ENTRY_POINTS:
        assert ck.latest_iteration() == CADENCE
    else:
        assert ck.latest_iteration() is not None

    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    got = run(spark, None)
    assert list(scratch.iterdir()) == []
    spark.catalog.clearCache()
    assert sorted(got.collect()) == want


@pytest.mark.parametrize("name", sorted(FAMILY))
def test_metrics_rows_carry_common_keys(spark, tmp_path, name):
    ck = CheckpointManager(spark, str(tmp_path / "m"), interval=4)
    res = FAMILY[name](spark, tol=1e-10, max_iter=12, checkpoint=ck)
    assert [m["iteration"] for m in res.metrics] == list(
        range(1, res.iterations + 1))
    for m in res.metrics:
        assert COMMON_KEYS <= m.keys()
    for it in ck.committed_iterations():
        for key in COMMON_KEYS:
            assert ck.read_metric(it, key) is not None


@pytest.mark.parametrize("name", sorted(FAMILY))
def test_broadcast_metrics_rows_carry_plan(spark, tmp_path, name):
    ck = CheckpointManager(spark, str(tmp_path / "m"), interval=4)
    res = FAMILY[name](spark, tol=1e-10, max_iter=12, checkpoint=ck,
                       gather_mode="broadcast")
    assert res.metrics
    for m in res.metrics:
        assert COMMON_KEYS <= m.keys()
        assert m["plan"] == "broadcast"
    assert ck.committed_iterations()
    for it in ck.committed_iterations():
        assert ck.read_metric(it, "plan") == "broadcast"
        assert ck.read_metric(it, "budget_bytes") is not None
