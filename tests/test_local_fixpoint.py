"""The local backend of connected components and label propagation: the
whole fixpoint loop in one ``mapInArrow`` task, chosen when the graph fits
the memory budget.  It must replay the distributed loop round for round:
the same result for every ``max_iter``, the same committed cadence states
and metrics columns, resume across backends, and no cache left behind."""

from __future__ import annotations

import numpy as np
import pytest

from conftest import BACKENDS, edges_df, on_backend
from pagerank_spark import local_backend
from pagerank_spark.checkpoint import CheckpointManager, TableCheckpointManager
from pagerank_spark.io import TableIO
from pagerank_spark.operators import connected_components, label_propagation

OPS = {"cc": (connected_components, "edges"),
       "lpa": (label_propagation, "changed")}
PROBE_KEYS = {"plan", "num_edges", "n", "est_bytes", "budget_bytes"}


def _edges():
    # Two random blobs, a path, duplicate and reversed edges, self-loops.
    rng = np.random.default_rng(11)
    edges = [(int(a), int(b)) for a in range(40) for b in range(40)
             if a != b and rng.random() < 0.05]
    edges += [(100 + i, 101 + i) for i in range(12)]
    return edges + [(3, 7), (3, 7), (7, 3), (5, 5), (200, 200)]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _run(spark, monkeypatch, tmp_path, op, backend, **kw):
    ck = CheckpointManager(spark, str(tmp_path / backend), interval=1)
    with on_backend(monkeypatch, backend):
        out = _rows(OPS[op][0](edges_df(spark, _edges()), checkpoint=ck, **kw))
    return out, ck, ck.committed_iterations()


@pytest.mark.parametrize("max_iter", [1, 2, 3, 50])
@pytest.mark.parametrize("op", sorted(OPS))
def test_local_replays_distributed(spark, tmp_path, monkeypatch, op,
                                   max_iter):
    # Truncated and full runs: the same result, the same committed
    # rounds, states and per-round metric.
    key = OPS[op][1]
    runs = {b: _run(spark, monkeypatch, tmp_path, op, b, max_iter=max_iter)
            for b in BACKENDS}
    (loc, lck, lits), (dist, dck, dits) = runs["local"], runs["distributed"]
    assert loc == dist
    assert lits == dits and lits[-1] <= max_iter
    for it in lits:
        assert _rows(lck.read_state(it)) == _rows(dck.read_state(it))
        assert lck.read_metric(it, key) == dck.read_metric(it, key)
        assert lck.read_metric(it, "plan") == "local"
        assert dck.read_metric(it, "plan") == "distributed"
    assert set(lck.read_metrics().columns) == set(dck.read_metrics().columns) \
        == {"iteration", key, "wall_ms"} | PROBE_KEYS


@pytest.mark.parametrize("first,then", [("local", "distributed"),
                                        ("distributed", "local")])
@pytest.mark.parametrize("op", sorted(OPS))
def test_resume_across_backends(spark, tmp_path, monkeypatch, op, first,
                                then):
    fn = OPS[op][0]
    df = edges_df(spark, _edges())
    with on_backend(monkeypatch, then):
        full = _rows(fn(df))
    ck = CheckpointManager(spark, str(tmp_path / "ck"), interval=1)
    with on_backend(monkeypatch, first):
        fn(df, max_iter=2, checkpoint=ck)
    assert ck.latest_iteration() == 2
    with on_backend(monkeypatch, then):
        resumed = _rows(fn(df, checkpoint=ck, resume=True))
    assert resumed == full
    assert ck.read_metric(2, "plan") == first
    assert ck.read_metric(ck.latest_iteration(), "plan") == then


@pytest.mark.parametrize("op", sorted(OPS))
def test_budget_boundary(spark, tmp_path, monkeypatch, op):
    # A graph exactly at the estimate runs locally; one byte over, not.
    fn = OPS[op][0]
    df = edges_df(spark, _edges())
    _, probe = local_backend.edge_list_probe(df)
    assert probe["num_edges"] == len(_edges())
    for budget, plan in ((probe["est_bytes"], "local"),
                         (probe["est_bytes"] - 1, "distributed")):
        monkeypatch.setattr(local_backend, "LOCAL_MAX_BYTES", budget)
        ck = CheckpointManager(spark, str(tmp_path / plan), interval=1)
        fn(df, max_iter=1, checkpoint=ck)
        assert ck.read_metric(1, "plan") == plan
        assert ck.read_metric(1, "est_bytes") == probe["est_bytes"]
        assert ck.read_metric(1, "budget_bytes") == budget


@pytest.mark.parametrize("kind,want_cc,want_lpa", [
    ("empty", [], []),
    ("self_loops_only", [(4, 4), (9, 9)], []),
])
@pytest.mark.parametrize("op", sorted(OPS))
def test_degenerate_inputs(spark, tmp_path, monkeypatch, op, kind, want_cc,
                           want_lpa):
    edges = {"empty": [], "self_loops_only": [(4, 4), (9, 9), (4, 4)]}[kind]
    fn = OPS[op][0]
    got = {}
    for backend in BACKENDS:
        ck = CheckpointManager(spark, str(tmp_path / backend), interval=1)
        with on_backend(monkeypatch, backend):
            got[backend] = _rows(fn(edges_df(spark, edges), checkpoint=ck))
        # Both loops stop after one round that changes nothing.
        assert ck.committed_iterations() == [1]
    assert got["local"] == got["distributed"] == (
        want_cc if op == "cc" else want_lpa)


@pytest.mark.parametrize("op", sorted(OPS))
def test_null_endpoint_goes_distributed(spark, tmp_path, op):
    # Under the default budget: the NULL alone decides.
    fn = OPS[op][0]
    df = spark.createDataFrame([(0, 1), (1, None), (2, 3)],
                               "src BIGINT, dst BIGINT")
    ck = CheckpointManager(spark, str(tmp_path / "ck"), interval=1)
    got = [tuple(r) for r in fn(df, max_iter=1, checkpoint=ck).collect()]
    assert ck.read_metric(1, "plan") == "distributed"
    assert ck.read_metric(1, "num_edges") == 3
    want = {"cc": [(0, 0), (1, 0), (2, 2), (3, 2)],
            "lpa": [(0, 1), (1, 0), (2, 3), (3, 2)]}[op]
    assert sorted(r for r in got if None not in r) == want


def _backing_rdds(df) -> set[int]:
    """Ids of the checkpointed RDDs the frame's plan reads."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    return {leaves.apply(i).rdd().id() for i in range(leaves.size())
            if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"}


@pytest.mark.parametrize("cadence", ["default_root", "caller_every_round"])
@pytest.mark.parametrize("backend", BACKENDS)
@pytest.mark.parametrize("op", sorted(OPS))
def test_nothing_left_pinned(spark, tmp_path, monkeypatch, op, backend,
                             cadence):
    # After the call only the RDD of its materialised result is new among
    # the persistent RDDs, and the SQL cache is as it was.
    fn = OPS[op][0]
    df = edges_df(spark, _edges())
    ck = (None if cadence == "default_root"
          else CheckpointManager(spark, str(tmp_path / "ck"), interval=1))
    jsc = spark.sparkContext._jsc
    cache = spark._jsparkSession.sharedState().cacheManager()

    def pinned():
        return set(jsc.getPersistentRDDs().keySet().toArray())

    spark.catalog.clearCache()
    before = pinned()
    with on_backend(monkeypatch, backend):
        out = fn(df, checkpoint=ck)
    assert pinned() - before == _backing_rdds(out)
    assert len(_backing_rdds(out)) == 1
    assert cache.isEmpty()
    assert len(_rows(out)) == len(_rows(fn(df))) > 0   # still readable


@pytest.mark.parametrize("op", sorted(OPS))
def test_table_metrics_rows_append_across_backends(spark, tmp_path,
                                                   monkeypatch, op):
    # A distributed run's committed metrics rows, then a local resume's:
    # every append carries the same columns.
    fn, key = OPS[op]
    df = edges_df(spark, _edges())
    io = TableIO("parquet", root=str(tmp_path / "tables"))
    appended = []
    append = io.append
    monkeypatch.setattr(io, "append", lambda frame, name, **kw: (
        appended.append((name, tuple(frame.columns))),
        append(frame, name, **kw)))
    ck = TableCheckpointManager(spark, io, prefix=op, interval=1)
    with on_backend(monkeypatch, "local"):
        full = _rows(fn(df))
    with on_backend(monkeypatch, "distributed"):
        fn(df, max_iter=1, checkpoint=ck)
    with on_backend(monkeypatch, "local"):
        resumed = _rows(fn(df, checkpoint=ck, resume=True))
    assert resumed == full
    columns = {cols for name, cols in appended if name == f"{op}_metrics"}
    assert columns == {tuple(sorted({"iteration", key, "wall_ms"}
                                    | PROBE_KEYS))}
    assert ck.read_metric(1, "plan") == "distributed"
    assert ck.read_metric(2, "plan") == "local"
