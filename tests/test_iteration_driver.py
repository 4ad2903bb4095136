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
from pagerank_spark.operators.components import connected_components
from pagerank_spark.operators.eigencentrality import eigenvector_centrality
from pagerank_spark.operators.katz import katz_centrality
from pagerank_spark.operators.labelprop import label_propagation
from pagerank_spark.operators.pagerank import pagerank
from pagerank_spark.operators.ppr import personalized_pagerank
from pagerank_spark.operators.weighted import weighted_pagerank

# The default checkpoint interval of every entry point below.
CADENCE = 8
# Connected components and label propagation both need more than
# CADENCE rounds on a sorted path of this length.
PATH = [(i, i + 1) for i in range(255)]


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
ENTRY_POINTS = {
    **{name: (lambda spark, ck, run=run: run(
        spark, tol=0.0, max_iter=CADENCE, checkpoint=ck).ranks)
       for name, run in FAMILY.items()},
    "connected_components": lambda spark, ck: connected_components(
        edges_df(spark, PATH), max_iter=CADENCE, checkpoint=ck),
    "label_propagation": lambda spark, ck: label_propagation(
        edges_df(spark, PATH), max_iter=CADENCE, checkpoint=ck),
}

COMMON_KEYS = {"iteration", "l1", "prev_l1", "dangling_mass", "sum_pr",
               "wall_ms", "rows", "num_partitions"}


@pytest.mark.parametrize("name", sorted(ENTRY_POINTS))
def test_default_root_removed_and_result_detached(spark, tmp_path,
                                                  monkeypatch, name):
    run = ENTRY_POINTS[name]
    ck = CheckpointManager(spark, str(tmp_path / "explicit"),
                           interval=CADENCE)
    want = sorted(run(spark, ck).collect())
    # The last iteration was a durable one: the default-root run below
    # ends on a state read back from its temporary root.
    assert ck.latest_iteration() == CADENCE

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
