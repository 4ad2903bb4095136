from __future__ import annotations

import sys
import os
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))

from pagerank_spark import local_backend
from pagerank_spark.session import get_spark

# The backends of the operators with a local path (connected components,
# label propagation), for ``on_backend``.
BACKENDS = ("local", "distributed")


@pytest.fixture(scope="session")
def spark():
    # The driver heap is session.host_driver_memory(), as for every
    # other caller of get_spark.
    s = get_spark(
        app_name="pagerank_spark_tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield s


@pytest.fixture()
def tmp_ckpt(tmp_path):
    return str(tmp_path / "ckpt")


def edges_df(spark, edges):
    return spark.createDataFrame(edges, "src BIGINT, dst BIGINT")


@contextmanager
def on_backend(monkeypatch, backend: str):
    """Run the body's connected components and label propagation calls on
    ``backend``: "local" (the default on small graphs), or "distributed"
    with the budget monkeypatched below any estimate.  Asserts that every
    call took that path."""
    calls = []
    run = local_backend.run_one_task
    with monkeypatch.context() as mp:
        mp.setattr(local_backend, "run_one_task",
                   lambda *a, **kw: (calls.append(1), run(*a, **kw))[1])
        if backend == "distributed":
            mp.setattr(local_backend, "LOCAL_MAX_BYTES", -1)
        yield
    assert bool(calls) == (backend == "local")
