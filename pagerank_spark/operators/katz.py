"""Katz centrality: attenuated walk-count power iteration.

Beyond-reference operator (the reference ships only global PageRank,
``pagerank/src/lib/pagerank.cpp:131-243``): Katz (1953) scores a
vertex by the attenuated number of walks ENDING at it,

    katz = beta * sum_{k>=0} alpha^k (A^T)^k 1

computed by the fixpoint iteration (zero init, same Q1 convention as
the PageRank operator so step 1 is the pure ``beta`` vector):

    x_0 = 0
    x_t = beta + alpha * A^T x_{t-1}

which converges iff ``alpha`` < 1/lambda_max(A); the default 0.1 is
safe for any graph with max in-degree <= 10 and the caller is expected
to pick alpha from the degree bound (1/max_degree is the classical
conservative choice).  Unlike PageRank there is no per-source
normalization: the gather value is the raw rank, not rank/out_deg.

Physical strategy: the global operator's (see ``pagerank.py``), run
by its shared driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager
from pagerank_spark.graph import Graph
from pagerank_spark.operators.pagerank import (
    BROADCAST_MAX_VERTICES,
    GatherPlan,
    _advance,
    _contrib,
    _degree_state,
    _iterate,
    _raw_weights,
)


@dataclass
class KatzResult:
    ranks: DataFrame            # (id, katz) — the last computed iterate
    iterations: int
    final_l1: float
    metrics: list[dict] = field(default_factory=list)

    def top(self, k: int = 1) -> DataFrame:
        """Top-k by score; deterministic tie-break on smallest id."""
        return self.ranks.orderBy(F.desc("katz"), F.asc("id")).limit(k)


def katz_centrality(
    graph: Graph,
    alpha: float = 0.1,
    beta: float = 1.0,
    tol: float = 1e-10,
    max_iter: int = 500,
    checkpoint: CheckpointManager | None = None,
    checkpoint_interval: int = 8,
    gather_mode: str = "auto",
    salt_threshold: int | None = None,
    num_salts: int = 8,
    resume: bool = False,
    broadcast_max_vertices: int = BROADCAST_MAX_VERTICES,
) -> KatzResult:
    """Run Katz centrality to L1 convergence (or ``max_iter``).

    ``gather_mode``/``salt_threshold``/``num_salts``/``resume`` have
    the global PageRank operator's semantics (shared
    :func:`pagerank.plan_gather` / checkpoint contract).  The caller
    must pick ``alpha`` below the spectral radius bound; the iteration
    itself only enforces ``max_iter``.
    """
    # Gather value is the RAW rank (no 1/out_deg split).
    def update(state: DataFrame, plan: GatherPlan, _dangling: float):
        return _advance(state, plan.gather(_raw_weights(state)),
                        beta + alpha * _contrib(), "out_deg"), {}

    def local(x, gather, _dangling: float):
        return beta + alpha * gather(x["pr"]), {}

    # pr holds the Katz iterate (zero init, as PageRank's Q1);
    # renamed on exit.
    state, it, l1, metrics, _ = _iterate(
        graph.edges, graph.out_deg, graph.n,
        lambda: _degree_state(graph, 0.0), update, local,
        lambda l1, _: l1 < tol,
        checkpoint=checkpoint, checkpoint_interval=checkpoint_interval,
        resume=resume, max_iter=max_iter,
        gather=dict(mode=gather_mode, salt_threshold=salt_threshold,
                    num_salts=num_salts,
                    broadcast_max_vertices=broadcast_max_vertices))
    return KatzResult(ranks=state.select("id", F.col("pr").alias("katz")),
                      iterations=it, final_l1=l1, metrics=metrics)
