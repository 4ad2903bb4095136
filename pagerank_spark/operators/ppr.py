"""Personalized PageRank: power iteration with a restart distribution.

Generalizes the reference's global PageRank (uniform teleport 1/N,
reference ``pagerank/src/lib/pagerank.cpp:131,142``) to a restart
distribution concentrated on a source set S — the standard
random-walk-with-restart relevance score (Jeh & Widom, "Scaling
Personalized Web Search", WWW'03):

    restart(v) = 1/|S|  for v in S, else 0
    p_0        = 0                      (zero init, same convention as
                                         the global operator's Q1)
    p_t(v)     = d * (gather_t(v) + dangling_t * restart(v))
                 + (1 - d) * restart(v)

Dangling mass is re-injected through the restart distribution (not
uniformly), so the walk never leaks probability away from the
personalization; at convergence sum(pr) -> 1.

Physical strategy: the global operator's (see ``pagerank.py``), run
by its shared driver; the only delta is the per-vertex ``restart``
column carried in the state table, which replaces the two 1/N
constants of the affine update.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager
from pagerank_spark.graph import Graph
from pagerank_spark.operators.pagerank import (
    BROADCAST_MAX_VERTICES,
    DAMPING,
    GatherPlan,
    PageRankResult,
    _advance,
    _contrib,
    _iterate,
    _rank_weights,
)


def personalized_pagerank(
    graph: Graph,
    sources: DataFrame | Sequence[int],
    damping: float = DAMPING,
    tol: float = 1e-10,
    max_iter: int = 500,
    checkpoint: CheckpointManager | None = None,
    checkpoint_interval: int = 8,
    gather_mode: str = "auto",
    salt_threshold: int | None = None,
    num_salts: int = 8,
    resume: bool = False,
    broadcast_max_vertices: int = BROADCAST_MAX_VERTICES,
) -> PageRankResult:
    """Run personalized PageRank to L1 convergence (or ``max_iter``).

    ``sources`` is a one-column ``(id)`` DataFrame or a sequence of
    vertex ids; the restart distribution is uniform over it.  Returns
    the same :class:`PageRankResult` as the global operator (both
    ``ranks``/``converged_ranks`` hold the last computed iterate: the
    reference's pre-swap quirk Q4 is a global-PageRank parity detail,
    not part of PPR's contract).  ``gather_mode``/``salt_threshold``/
    ``num_salts``/``resume`` have the global operator's semantics
    (shared :func:`pagerank.plan_gather` / checkpoint contract).
    """
    spark = graph.spark

    def init() -> DataFrame:
        # Fresh runs only: the checkpointed state carries the restart
        # column, so a resume never re-derives it from the source set.
        src = (sources if isinstance(sources, DataFrame)
               else spark.createDataFrame([(int(s),) for s in sources],
                                          "id BIGINT"))
        src_set = (
            src.select(F.col("id").cast("bigint").alias("id"))
            .distinct()
            .withColumn("_s", F.lit(1.0))
        )
        n_sources = src_set.count()
        if n_sources == 0:
            raise ValueError(
                "personalized_pagerank needs a non-empty source set")
        # State: (id, pr, prev_pr, out_deg, restart) — the restart
        # column replaces both 1/N constants of the global update.
        return (
            spark.range(0, graph.n)
            .join(graph.out_deg, "id", "left")
            .join(F.broadcast(src_set), "id", "left")
            .select("id", F.lit(0.0).alias("pr"),
                    F.lit(0.0).alias("prev_pr"), "out_deg",
                    (F.coalesce(F.col("_s"), F.lit(0.0)) * (1.0 / n_sources))
                    .alias("restart"))
        )

    def restarted(contrib, dangling: float, restart):
        # p = d*(gather + dangling*restart) + (1-d)*restart, over
        # Columns or NumPy vectors alike.
        return ((contrib + dangling * restart) * damping
                + (1.0 - damping) * restart)

    def update(state: DataFrame, plan: GatherPlan, dangling: float):
        new_pr = restarted(_contrib(), dangling, F.col("restart"))
        return _advance(state, plan.gather(_rank_weights(state)), new_pr,
                        "out_deg", "restart"), {}

    def local(x, gather, dangling: float):
        contrib = gather(x["pr"] / x["out_deg"])
        return restarted(contrib, dangling, x["restart"]), {}

    state, it, l1, metrics, _ = _iterate(
        graph.edges, graph.out_deg, graph.n, init, update, local,
        lambda l1, _: l1 < tol,
        checkpoint=checkpoint, checkpoint_interval=checkpoint_interval,
        resume=resume, max_iter=max_iter,
        gather=dict(mode=gather_mode, salt_threshold=salt_threshold,
                    num_salts=num_salts,
                    broadcast_max_vertices=broadcast_max_vertices))
    ranks = state.select("id", "pr")
    return PageRankResult(ranks=ranks, converged_ranks=ranks, iterations=it,
                          final_l1=l1, metrics=metrics)
