"""Single-source shortest paths over a weighted edge table
(frontier-relaxation Bellman-Ford).

The weighted completion of operators/bfs.py (uniform weights reduce
to hop depths, tested): per round, relax every edge leaving the
improved frontier and keep the per-vertex min,

    cand(v)  = min_{(u,v) ∈ E, u ∈ frontier} dist(u) + w(u,v)
    improved = { v : cand(v) < dist(v) }     (frontier of next round)

With non-negative weights every vertex's distance is finalized after
at most |V| rounds; in practice rounds track the hop length of the
longest shortest path, and per-round shuffle volume tracks the
frontier — the same peak-and-collapse decay as BFS.

Physical strategy is BFS's, inherited deliberately: the (symmetrized
when undirected) weighted edge set is persisted NARROW — SSSP min
aggregation is duplicate-insensitive, so neither a dedupe nor a
layout shuffle of the |E| side is warranted — and the frontier is
broadcast explicitly (its exact row count is known from the previous
round's aggregate), with a one-time src re-layout if a frontier ever
outgrows the broadcast bound.  Parallel edges collapse inside the
per-round min; the state merge is one full-width |V|-row join, the
same per-round cost class as the PageRank gather.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager, detach, scoped_checkpoint

BROADCAST_MAX_FRONTIER = 5_000_000


def shortest_paths(
    edges_w: DataFrame,
    sources: DataFrame | Sequence[int],
    weight_col: str = "weight",
    directed: bool = False,
    max_rounds: int = 500,
    checkpoint: CheckpointManager | None = None,
) -> DataFrame:
    """(id, dist) — minimum path weight from ``sources`` to every
    reachable vertex; unreachable vertices are absent.

    ``edges_w`` carries (src, dst, ``weight_col``); weights must be
    non-negative (checked per-batch is not free, so it is a
    documented contract like the reference's integer-id contract).
    ``directed=False`` (default) treats each edge as traversable both
    ways at its weight.
    """
    spark = edges_w.sparkSession
    if not isinstance(sources, DataFrame):
        sources = spark.createDataFrame(
            [(int(s),) for s in sources], "id BIGINT")
    w = F.col(weight_col).cast("double").alias("w")
    halves = [edges_w.select("src", "dst", w)]
    if not directed:
        halves.append(edges_w.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), w))
    e = halves[0] if len(halves) == 1 else halves[0].unionByName(halves[1])
    # Self-loops cannot improve a distance under non-negative weights.
    e = e.where(F.col("src") != F.col("dst")).persist()
    try:
        with scoped_checkpoint(checkpoint, "sssp_ckpt_", lambda root: CheckpointManager(
                spark, root, interval=8)) as (checkpoint, owned):
            return _sssp_loop(e, sources, max_rounds, checkpoint, owned)
    finally:
        e.unpersist()


def _sssp_loop(e: DataFrame, sources: DataFrame, max_rounds: int,
               checkpoint: CheckpointManager, owned: bool) -> DataFrame:
    dists = (
        sources.select(F.col("id").cast("bigint").alias("id"))
        .distinct()
        .withColumn("dist", F.lit(0.0))
        .persist()
    )
    frontier = dists.persist()
    # Count the source set once so round 1 never force-broadcasts an
    # arbitrarily large source DataFrame (same fix as bfs._bfs_loop);
    # later rounds get their count from the convergence aggregate.
    frontier_rows = dists.count()
    laid_out = durable = False
    r = 0
    while r < max_rounds:
        r += 1
        small = frontier_rows <= BROADCAST_MAX_FRONTIER
        if not small and not laid_out:
            relaid = e.repartition(e.rdd.getNumPartitions(), "src").persist()
            relaid.count()
            e.unpersist()
            e = relaid
            laid_out = True
        f_side = frontier.withColumnRenamed("id", "src")
        cand = (
            e.join(F.broadcast(f_side) if small else f_side, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
        )
        merged = (
            dists.join(cand, "id", "full")
            .select(
                "id",
                F.least(F.coalesce(F.col("dist"), F.lit(float("inf"))),
                        F.coalesce(F.col("cand"), F.lit(float("inf"))))
                .alias("dist"),
                F.coalesce(
                    F.col("dist").isNull()
                    | (F.col("cand") < F.col("dist")),
                    F.lit(False)).alias("_improved"),
            )
        )
        durable = checkpoint.should_checkpoint(r)
        if durable:
            merged = checkpoint.write_state(merged, r).persist()
        else:
            merged = merged.localCheckpoint(eager=False)
        row = merged.agg(
            F.sum(F.col("_improved").cast("long")).alias("grew")).first()
        grew = int(row["grew"] or 0)
        if durable:
            checkpoint.write_metrics(r, {"improved": float(grew)})
        frontier.unpersist()
        dists.unpersist()
        dists = merged
        frontier = (
            merged.where(F.col("_improved")).select("id", "dist").persist())
        frontier_rows = grew
        if grew == 0:
            break
    frontier.unpersist()
    if laid_out:
        e.unpersist()
    return detach(dists, owned, durable).select("id", "dist")
