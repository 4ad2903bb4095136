"""Weighted PageRank: power iteration over a weighted edge table.

Generalizes the reference's uniform-split update (every out-edge gets
``pr/out_deg``, reference ``pagerank/src/lib/pagerank.cpp:123-128``)
to arbitrary non-negative edge weights: a vertex splits its rank in
proportion to outgoing weight,

    contrib(v) = Σ_{(u,v) ∈ E} pr(u) * w(u,v) / strength(u)
    p_t(v)     = d * (contrib(v) + dangling_t / N) + (1 - d) / N

with ``strength(u) = Σ_w out-weights`` and the same zero init /
dangling handling / L1 stop as the global operator, so uniform
weights reproduce it exactly (tested).

Physical strategy: the global operator's (see ``pagerank.py``), run
by its shared driver.  The per-edge split fraction ``w/strength`` is
precomputed ONCE into the prepared edge table (one broadcast-sized
join against the |V|-row strength side), so each iteration is the
same join + groupBy-sum matvec and the weight never re-normalizes in
the loop.  Parallel edges are combined by summing weights at prepare
time (the weighted analogue of the dedupe: multiplicity becomes
weight instead of being dropped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager
from pagerank_spark.operators.pagerank import (
    BROADCAST_MAX_VERTICES,
    DAMPING,
    GatherPlan,
    PageRankResult,
    _advance,
    _contrib,
    _iterate,
    _teleport,
)


def prepare_weighted(edges_w: DataFrame,
                     weight_col: str = "weight") -> tuple[DataFrame, DataFrame, int]:
    """Normalize a raw weighted edge table into the loop's inputs.

    Returns ``(norm_edges(src, dst, f), strength(id, strength,
    out_deg), n)`` where ``f = w / strength(src)`` is the precomputed
    split fraction and ``out_deg`` is the per-src EDGE-ROW count of
    the combined table — the skew diagnostic plan_gather probes
    (straggling tracks row count behind a join key, not weight mass).
    Parallel (src, dst) rows are combined by summing their weights.
    """
    edges = (
        edges_w.groupBy("src", "dst")
        .agg(F.sum(weight_col).alias("w"))
    )
    strength = edges.groupBy(F.col("src").alias("id")).agg(
        F.sum("w").alias("strength"),
        F.count(F.lit(1)).alias("out_deg"))
    row = edges.agg(F.max(F.greatest("src", "dst")).alias("m")).first()
    n = int(row["m"]) + 1 if row and row["m"] is not None else 0
    # Columnar SQL cache, NOT an RDD localCheckpoint: at 1e8+ rows the
    # compressed columnar blocks are several times smaller than raw
    # UnsafeRow checkpoint blocks (an eager localCheckpoint of a
    # 578M-row norm table blew the heap where this cache fits — same
    # rationale as graph.prepare_prebuilt).  The plan above it is
    # static, so per-iteration re-analysis stays constant-size.
    norm = (
        edges.join(strength.select(F.col("id").alias("src"), "strength"),
                   "src")
        .select("src", "dst", (F.col("w") / F.col("strength")).alias("f"))
        .persist()
    )
    norm.count()
    return norm, strength.persist(), n


def weighted_pagerank(
    edges_w: DataFrame,
    weight_col: str = "weight",
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
    """Weighted power iteration to L1 < ``tol`` (or ``max_iter``).

    ``edges_w`` carries (src, dst, ``weight_col``).  Returns the same
    :class:`PageRankResult` as the global operator; like PPR, both
    ``ranks``/``converged_ranks`` hold the last computed iterate (the
    reference's pre-swap quirk Q4 is a global-PageRank parity detail).
    ``gather_mode``/``salt_threshold``/``num_salts``/``resume`` have
    the global operator's semantics.
    """
    spark = edges_w.sparkSession
    norm, strength, n = prepare_weighted(edges_w, weight_col)

    def init() -> DataFrame:
        # State: (id, pr, prev_pr, strength); strength NULL ⇔ dangling.
        return (
            spark.range(0, n)
            .join(strength.select("id", "strength"), "id", "left")
            .select("id", F.lit(0.0).alias("pr"),
                    F.lit(0.0).alias("prev_pr"), "strength")
        )

    def update(state: DataFrame, plan: GatherPlan, dangling: float):
        # Rank side (src, w=pr); the per-edge value is w * f with f
        # the precomputed split fraction riding on the edge table.
        ranks_w = state.select(F.col("id").alias("src"),
                               F.col("pr").alias("w"))
        contribs = plan.gather(ranks_w, value=F.col("w") * F.col("f"))
        return _advance(state, contribs,
                        _teleport(_contrib(), dangling, damping, n),
                        "strength"), {}

    def local(x, gather, dangling: float):
        return _teleport(gather(x["pr"], "f"), dangling, damping, n), {}

    try:
        state, it, l1, metrics, _ = _iterate(
            norm, strength.select("id", "out_deg"), n, init, update, local,
            lambda l1, _: l1 < tol,
            checkpoint=checkpoint, checkpoint_interval=checkpoint_interval,
            resume=resume, max_iter=max_iter,
            gather=dict(mode=gather_mode, salt_threshold=salt_threshold,
                        num_salts=num_salts,
                        broadcast_max_vertices=broadcast_max_vertices),
            dangling_col="strength")
    finally:
        strength.unpersist()
        norm.unpersist()
    ranks = state.select("id", "pr")
    return PageRankResult(ranks=ranks, converged_ranks=ranks, iterations=it,
                          final_l1=l1, metrics=metrics)
