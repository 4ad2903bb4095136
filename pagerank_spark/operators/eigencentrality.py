"""Eigenvector centrality: un-damped power iteration on A^T.

Beyond-reference operator (the reference engine is fixed-function
global PageRank, ``/root/reference/pagerank/src/lib/pagerank.cpp:
195-242``): eigenvector centrality is PageRank's older sibling — the
principal eigenvector of the (transposed) adjacency matrix itself,
with no damping, no dangling redistribution and no 1/out_deg split:

    x_un(v) = Σ_{(u,v) ∈ E} x(u)          (raw gather over in-edges)
    x       = x_un / ||x_un||₂

Power iteration from the all-ones vector converges to the principal
eigenvector for graphs whose dominant eigenvalue is simple (the
usual caveat: on a strictly periodic structure it oscillates, which
is exactly why PageRank adds the damping teleport — callers wanting
a guaranteed fixpoint on arbitrary graphs should prefer
``pagerank``/``katz_centrality``).  Vertices with zero in-degree
settle at exactly 0 after the first normalize.

Physical strategy: the global operator's (see ``pagerank.py``), run
by its shared driver, plus the one mandatory constant-size collect
per iteration for the L2 norm.  In fixed-k mode (``tol <= 0``, the
oracle-matched face) there is no stop rule, so the driver skips the
convergence aggregate off the checkpoint cadence and the norm collect
is the iteration's only scalar exchange (``hits.py`` rationale).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager
from pagerank_spark.graph import Graph
from pagerank_spark.operators.pagerank import (
    BROADCAST_MAX_VERTICES,
    GatherPlan,
    _Fixpoint,
    _degree_state,
    _iterate,
    _raw_weights,
)


# The metrics of the all-zero fixpoint.
_ZERO = {"l1": 0.0, "dangling_mass": 0.0, "sum_pr": 0.0, "norm": 0.0}


@dataclass
class EigenvectorResult:
    ranks: DataFrame            # (id, eigen) — the last normalized iterate
    iterations: int
    final_l1: float
    metrics: list[dict] = field(default_factory=list)

    def top(self, k: int = 1) -> DataFrame:
        """Top-k by score; deterministic tie-break on smallest id."""
        return self.ranks.orderBy(F.desc("eigen"), F.asc("id")).limit(k)


def eigenvector_centrality(
    graph: Graph,
    tol: float = 1e-10,
    max_iter: int = 100,
    checkpoint: CheckpointManager | None = None,
    checkpoint_interval: int = 8,
    gather_mode: str = "auto",
    salt_threshold: int | None = None,
    num_salts: int = 8,
    resume: bool = False,
    broadcast_max_vertices: int = BROADCAST_MAX_VERTICES,
) -> EigenvectorResult:
    """Run power iteration to L1 convergence (or ``max_iter``).

    ``gather_mode``/``salt_threshold``/``num_salts``/``resume`` have
    the global PageRank operator's semantics (shared
    :func:`pagerank.plan_gather` / checkpoint contract).  ``tol`` is
    the L1 delta over the NORMALIZED iterates; ``tol=0`` is the
    fixed-k oracle face (no convergence aggregate off the checkpoint
    cadence).
    """
    def update(state: DataFrame, plan: GatherPlan, _dangling: float):
        contribs = plan.gather(_raw_weights(state))
        # Lazy lineage cut: the norm aggregate below materializes it;
        # the projection to the next state then re-reads the truncated
        # plan instead of re-running the gather.
        raw = (
            state.join(contribs, state["id"] == contribs["dst"], "left")
            .select(state["id"],
                    F.coalesce(F.col("contrib"), F.lit(0.0)).alias("x_un"),
                    state["pr"].alias("old_pr"), state["out_deg"])
            .localCheckpoint(eager=False)
        )
        row = raw.agg(F.sum(F.col("x_un") * F.col("x_un")).alias("n2")
                      ).first()
        norm = math.sqrt(float(row["n2"] or 0.0))
        scaled = F.lit(0.0) if norm == 0.0 else F.col("x_un") / F.lit(norm)
        new_state = raw.select("id", scaled.alias("pr"),
                               F.col("old_pr").alias("prev_pr"), "out_deg")
        if norm == 0.0:
            # No edges reachable from the init — the all-zero vector
            # is the fixpoint.
            raise _Fixpoint(new_state, _ZERO)
        return new_state, {"norm": norm}

    def local(x, gather, _dangling: float):
        x_un = gather(x["pr"])
        norm = math.sqrt(float(np.dot(x_un, x_un)))
        if norm == 0.0:
            raise _Fixpoint(x_un, _ZERO)
        return x_un / norm, {"norm": norm}

    # pr holds the normalized iterate, from all-ones; renamed on exit.
    state, it, l1, metrics, _ = _iterate(
        graph.edges, graph.out_deg, graph.n,
        lambda: _degree_state(graph, 1.0), update, local,
        (lambda l1, _: l1 < tol) if tol > 0.0 else None,
        checkpoint=checkpoint, checkpoint_interval=checkpoint_interval,
        resume=resume, max_iter=max_iter,
        gather=dict(mode=gather_mode, salt_threshold=salt_threshold,
                    num_salts=num_salts,
                    broadcast_max_vertices=broadcast_max_vertices))
    return EigenvectorResult(
        ranks=state.select("id", F.col("pr").alias("eigen")),
        iterations=it, final_l1=l1, metrics=metrics)
