from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import edges_df
from oracles import F2_EDGES
from pagerank_spark import graph
from pagerank_spark.checkpoint import CheckpointManager
from pagerank_spark.operators.katz import katz_centrality


def _katz_numpy(edges, n, alpha, beta, iters):
    a = np.zeros((n, n))
    for s, d in set(edges):          # prepare() dedupes parallel edges
        a[s, d] = 1.0
    x = np.zeros(n)
    for _ in range(iters):
        x = beta + alpha * (a.T @ x)
    return x


def _ranks(df):
    return {r["id"]: r["katz"] for r in df.collect()}


# The power-iteration driver's two backends on a small graph: "auto"
# picks the one-task local loop, "broadcast" the distributed one.
BACKENDS = ("local", "broadcast")


def test_katz_matches_numpy_oracle(spark):
    g = graph.prepare(edges_df(spark, F2_EDGES))
    want = _katz_numpy(F2_EDGES, g.n, 0.1, 1.0, 7)
    for mode in BACKENDS:
        res = katz_centrality(g, alpha=0.1, max_iter=7, tol=0.0,
                              gather_mode=mode)
        got = _ranks(res.ranks)
        assert res.iterations == 7
        assert set(got) == set(range(g.n))
        for v in range(g.n):
            assert got[v] == pytest.approx(want[v], rel=1e-12)


def test_katz_converges_to_fixpoint(spark):
    # alpha below 1/spectral-radius: the iteration reaches the linear
    # system fixpoint x = beta + alpha * A^T x, checked directly.
    g = graph.prepare(edges_df(spark, F2_EDGES))
    res = katz_centrality(g, alpha=0.2, tol=1e-13, max_iter=500)
    assert res.final_l1 < 1e-13
    x = np.array([_ranks(res.ranks)[v] for v in range(g.n)])
    a = np.zeros((g.n, g.n))
    for s, d in set(F2_EDGES):
        a[s, d] = 1.0
    np.testing.assert_allclose(x, 1.0 + 0.2 * (a.T @ x), rtol=1e-10)


def test_katz_checkpoint_resume_bit_identical(spark, tmp_path):
    g = graph.prepare(edges_df(spark, F2_EDGES))
    for mode in BACKENDS:
        full_ck = CheckpointManager(spark, str(tmp_path / mode / "kfull"),
                                    interval=1)
        full = katz_centrality(g, alpha=0.2, tol=0.0, max_iter=18,
                               checkpoint=full_ck, gather_mode=mode)

        part_ck = CheckpointManager(spark, str(tmp_path / mode / "kpart"),
                                    interval=1)
        katz_centrality(g, alpha=0.2, tol=0.0, max_iter=8, checkpoint=part_ck,
                        gather_mode=mode)
        assert part_ck.latest_iteration() == 8
        resumed = katz_centrality(g, alpha=0.2, tol=0.0, max_iter=18,
                                  checkpoint=part_ck, resume=True,
                                  gather_mode=mode)

        assert resumed.iterations == full.iterations == 18
        assert _ranks(full.ranks) == _ranks(resumed.ranks)
        assert part_ck.committed_iterations() == list(range(1, 19))


def test_katz_empty_graph(spark):
    e = spark.createDataFrame([], "src BIGINT, dst BIGINT")
    res = katz_centrality(graph.prepare(e), max_iter=3)
    assert res.iterations == 0
    assert res.ranks.count() == 0


def test_katz_resume_zero_iterations_reports_true_l1(spark, tmp_path):
    # A resume that runs ZERO loop iterations (resumed it >= max_iter,
    # l1 still >= tol) must report the checkpointed state's true L1,
    # not 0.0 from an empty metrics list.
    g = graph.prepare(edges_df(spark, F2_EDGES))
    ck = CheckpointManager(spark, str(tmp_path / "kz"), interval=1)
    first = katz_centrality(g, alpha=0.2, tol=0.0, max_iter=8,
                            checkpoint=ck)
    assert first.final_l1 > 0.0
    again = katz_centrality(g, alpha=0.2, tol=0.0, max_iter=8,
                            checkpoint=ck, resume=True)
    assert again.iterations == 8 and not again.metrics
    assert again.final_l1 == pytest.approx(first.final_l1, rel=1e-12)
