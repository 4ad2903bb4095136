"""The local backend of the power-iteration driver: the whole loop in one
``mapInArrow`` task, chosen by "auto" when the graph fits a memory
budget.  It must agree with the distributed broadcast loop, keep the
reference's reporting quirks, and share the checkpoint contract."""

from __future__ import annotations

import importlib

import numpy as np
import pytest

from conftest import edges_df
from oracles import F2_EDGES, pagerank_oracle
from pagerank_spark import graph, local_backend
from pagerank_spark.checkpoint import CheckpointManager, TableCheckpointManager
from pagerank_spark.io import TableIO
from pagerank_spark.operators.pagerank import pagerank, plan_gather

pr_mod = importlib.import_module("pagerank_spark.operators.pagerank")


def _random_edges():
    # The graph of test_pagerank.py::test_random_graph_vs_oracle.
    rng = np.random.default_rng(42)
    n, p = 60, 0.06
    return [(int(i), int(j)) for i in range(n) for j in range(n)
            if i != j and rng.random() < p]


def _vec(df):
    rows = sorted((r["id"], r["pr"]) for r in df.collect())
    return np.array([pr for _, pr in rows])


GRAPHS = {"f2": (F2_EDGES, 1e-10), "random": (_random_edges(), 1e-4)}


@pytest.mark.parametrize("exit_by", ["stop_rule", "max_iter"])
@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_local_matches_broadcast(spark, name, exit_by):
    edges, tol = GRAPHS[name]
    max_iter = 5 if exit_by == "max_iter" else 100_000
    g = graph.prepare(edges_df(spark, edges))
    loc = pagerank(g, tol=tol, max_iter=max_iter, gather_mode="local")
    bc = pagerank(g, tol=tol, max_iter=max_iter, gather_mode="broadcast")
    want_rep, want_xk, want_it, _ = pagerank_oracle(edges, tol=tol,
                                                    max_iter=max_iter)
    assert loc.iterations == bc.iterations == want_it
    assert {m["plan"] for m in loc.metrics} == {"local"}
    assert {m["plan"] for m in bc.metrics} == {"broadcast"}
    for frame in ("ranks", "converged_ranks"):
        np.testing.assert_allclose(_vec(getattr(loc, frame)),
                                   _vec(getattr(bc, frame)), rtol=0, atol=1e-12)
    # Q4: a stop-rule exit reports the pre-swap x_{k-1}, a max_iter
    # exit the last iterate x_k.
    for res in (loc, bc):
        np.testing.assert_allclose(_vec(res.ranks), want_rep, atol=1e-12)
        np.testing.assert_allclose(_vec(res.converged_ranks), want_xk,
                                   atol=1e-12)
        assert (_vec(res.ranks) == _vec(res.converged_ranks)).all() == (
            exit_by == "max_iter")


@pytest.mark.parametrize("first,then", [("local", "broadcast"),
                                        ("broadcast", "local")])
def test_state_resumes_on_the_other_backend(spark, tmp_path, first, then):
    g = graph.prepare(edges_df(spark, F2_EDGES))
    full = pagerank(g, tol=1e-10, gather_mode=then)
    ck = CheckpointManager(spark, str(tmp_path / "ck"), interval=4)
    pagerank(g, tol=1e-10, max_iter=8, checkpoint=ck, gather_mode=first)
    assert ck.latest_iteration() == 8
    resumed = pagerank(g, tol=1e-10, checkpoint=ck, resume=True,
                       gather_mode=then)
    assert resumed.iterations == full.iterations == 132
    assert resumed.metrics[0]["iteration"] == 9
    assert {m["plan"] for m in resumed.metrics} == {then}
    np.testing.assert_allclose(_vec(resumed.ranks), _vec(full.ranks),
                               rtol=0, atol=1e-12)


@pytest.mark.parametrize("first,then", [("auto", "broadcast"),
                                        ("broadcast", "auto")])
def test_table_checkpoint_resumes_on_the_other_backend(spark, tmp_path,
                                                       monkeypatch, first,
                                                       then):
    # "auto" (local here) counts |E|, "broadcast" does not: the metrics
    # table must still get the same columns from both.
    g = graph.prepare(edges_df(spark, F2_EDGES))
    io = TableIO("parquet", root=str(tmp_path / "tables"))
    appended = []
    append = io.append
    monkeypatch.setattr(io, "append", lambda df, name, **kw: (
        appended.append((name, tuple(df.columns))), append(df, name, **kw)))
    ck = TableCheckpointManager(spark, io, prefix="pr", interval=4)
    full = pagerank(g, tol=1e-10, gather_mode=then)
    pagerank(g, tol=1e-10, max_iter=8, checkpoint=ck, gather_mode=first)
    resumed = pagerank(g, tol=1e-10, checkpoint=ck, resume=True,
                       gather_mode=then)
    assert resumed.iterations == full.iterations == 132
    np.testing.assert_allclose(_vec(resumed.ranks), _vec(full.ranks),
                               rtol=0, atol=1e-12)
    columns = {cols for name, cols in appended if name == "pr_metrics"}
    assert len(columns) == 1
    plan = {"auto": "local", "broadcast": "broadcast"}
    assert ck.read_metric(8, "plan") == plan[first]
    assert ck.read_metric(132, "plan") == plan[then]
    assert ck.read_metric(8, "budget_bytes") == local_backend.LOCAL_MAX_BYTES


@pytest.mark.parametrize("tol,max_iter", [(0.0, 20), (1e-10, 100_000)])
def test_local_run_split_into_tasks(spark, tmp_path, monkeypatch, tol,
                                    max_iter):
    # Two cadence states per task: the split run commits the same states
    # and ends bit-identical to the one-task run.
    g = graph.prepare(edges_df(spark, F2_EDGES))

    def run(name):
        ck = CheckpointManager(spark, str(tmp_path / name), interval=4)
        return ck, pagerank(g, tol=tol, max_iter=max_iter, checkpoint=ck,
                            gather_mode="local")

    one_ck, one = run("one")
    tasks = []
    local_task = pr_mod._local_task
    monkeypatch.setattr(pr_mod, "_local_task", lambda *a, **kw: (
        tasks.append(a[2]), local_task(*a, **kw))[1])
    monkeypatch.setattr(pr_mod, "LOCAL_BYTES_PER_CACHED_ROW",
                        local_backend.LOCAL_MAX_BYTES // (2 * g.n))
    split_ck, split = run("split")
    assert tasks == list(range(0, split.iterations, 8))
    assert split.iterations == one.iterations
    assert split_ck.committed_iterations() == one_ck.committed_iterations()
    assert [m["iteration"] for m in split.metrics] == list(
        range(1, split.iterations + 1))
    assert [m["l1"] for m in split.metrics] == [m["l1"] for m in one.metrics]
    assert _vec(split.ranks).tolist() == _vec(one.ranks).tolist()
    assert _vec(split.converged_ranks).tolist() == _vec(
        one.converged_ranks).tolist()


def test_auto_budget_boundary(spark, monkeypatch):
    g = graph.prepare(edges_df(spark, F2_EDGES))
    num_edges = g.edges.count()
    est = pr_mod._local_footprint(num_edges, g.n)
    for budget, plan in ((est, "local"), (est - 1, "broadcast")):
        monkeypatch.setattr(local_backend, "LOCAL_MAX_BYTES", budget)
        res = pagerank(g, tol=0.0, max_iter=2)
        for m in res.metrics:
            assert m["plan"] == plan
            assert (m["num_edges"], m["n"]) == (num_edges, g.n)
            assert (m["est_bytes"], m["budget_bytes"]) == (est, budget)


def test_auto_keeps_distributed_plans(spark):
    # A salt threshold, or a vector over the broadcast bound, keeps the
    # distributed loop; |E| is then not counted.
    g = graph.prepare(edges_df(spark, F2_EDGES))
    salted = pagerank(g, tol=0.0, max_iter=2, salt_threshold=1)
    wide = pagerank(g, tol=0.0, max_iter=2, broadcast_max_vertices=g.n - 1)
    assert {m["plan"] for m in salted.metrics} == {"salted"}
    assert {m["plan"] for m in wide.metrics} <= {"shuffle", "salted"}
    for m in salted.metrics + wide.metrics:
        assert m["num_edges"] is None and m["est_bytes"] is None


def test_local_plan_has_no_gather(spark):
    g = graph.prepare(edges_df(spark, F2_EDGES))
    plan = plan_gather(g.edges, g.out_deg, g.n, mode="local")
    assert plan.mode == "local" and plan._caches == []
    with pytest.raises(ValueError):
        plan.gather(g.out_deg)
    # Its own "auto" never picks local: HITS-style callers gather.
    assert plan_gather(g.edges, g.out_deg, g.n).mode == "broadcast"
