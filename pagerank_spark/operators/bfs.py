"""Breadth-first hop distances from a source set.

A natural member of the link-graph suite (the reference engine has no
traversal operator; PageRank/CC/LPA/triangles are mandated — BFS
rounds out reachability queries over the same prepared edge table).

Frontier formulation — per round d:

    frontier_d+1 = Γ(frontier_d) \\ visited
    depth(v)     = first round that reached v

Physical strategy: the symmetrized edge union is persisted NARROW —
no upfront exchange at all.  Neither a dedupe nor a layout shuffle of
the |2E| side is warranted: BFS is duplicate-insensitive (frontier
expansion is ``.distinct()``-ed per round; depth is the min round
that reaches a vertex), and the per-round join can broadcast the
frontier into the cached edge partitions instead of co-locating them
(measured on the 578M-edge smoke graph, the |2E| repartition+dedupe
dominated the whole traversal).  The loop knows every frontier's
EXACT row count from the previous round's convergence aggregate, so
the broadcast is an explicit, driver-decided hint — no stats
guesswork.  If a frontier ever exceeds the broadcast bound (peak
expansion on a short-diameter web graph), the edge table is re-laid
by ``src`` ONCE, on demand, and subsequent shuffle-join rounds move
only the frontier side — the same broadcast→shuffle flip the
PageRank gather uses.  Per-round shuffle volume therefore tracks the
frontier expansion, which peaks once and collapses — the same
geometric-decay property that makes large-star/small-star viable at
100 TB.

Convergence is the natural one: an empty frontier (one constant-size
aggregate per round, fused into the round's only job).  Lineage is
truncated per round; a durable checkpoint cadence makes long
traversals resumable like every other iterative operator here.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager, detach, scoped_checkpoint

# Frontiers at or below this exact row count (known from the previous
# round's aggregate) are broadcast; the first larger one triggers the
# one-time src re-layout of the edge table.  Same bound class as the
# PageRank gather's broadcast→shuffle flip.
BROADCAST_MAX_FRONTIER = 5_000_000


def bfs_depths(
    edges: DataFrame,
    sources: DataFrame | Sequence[int],
    max_depth: int = 50,
    directed: bool = False,
    checkpoint: CheckpointManager | None = None,
) -> DataFrame:
    """(id, depth) for every vertex reachable from ``sources`` within
    ``max_depth`` hops; ``depth`` is the minimum hop count.

    ``sources`` is a one-column ``(id)`` DataFrame or a sequence of
    vertex ids.  ``directed=False`` (default) traverses the
    symmetrized edge set; ``directed=True`` follows edges src→dst
    only.  Unreachable vertices are absent from the output (callers
    wanting the dense domain left-join against ``spark.range``).
    """
    spark = edges.sparkSession
    if not isinstance(sources, DataFrame):
        sources = spark.createDataFrame(
            [(int(s),) for s in sources], "id BIGINT")
    # NARROW symmetrize: no dedupe, no layout shuffle (module
    # docstring — both were measured waste at 578M edges).  Self-loops
    # never change a depth; drop them.
    fwd = edges.select("src", "dst")
    halves = [fwd]
    if not directed:
        halves.append(edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    und = (
        halves[0] if len(halves) == 1 else halves[0].unionByName(halves[1])
    )
    und = und.where(F.col("src") != F.col("dst")).persist()
    try:
        # Durable truncation cadence — see operators/pagerank.py for
        # why localCheckpoint alone is insufficient on long loops.
        with scoped_checkpoint(checkpoint, "bfs_ckpt_", lambda root: CheckpointManager(
                spark, root, interval=8)) as (checkpoint, owned):
            return _bfs_loop(und, sources, max_depth, checkpoint, owned)
    finally:
        und.unpersist()


def _bfs_loop(und: DataFrame, sources: DataFrame, max_depth: int,
              checkpoint: CheckpointManager, owned: bool) -> DataFrame:
    depths = (
        sources.select(F.col("id").cast("bigint").alias("id"))
        .distinct()
        .withColumn("depth", F.lit(0).cast("int"))
        .persist()
    )
    frontier = depths.select("id").persist()
    # Round 1's frontier is the source set: count it once (also
    # materializes the persist) so an arbitrarily large source
    # DataFrame is never force-broadcast on the first round — every
    # later round's count comes free from the convergence aggregate.
    frontier_rows = depths.count()
    laid_out = durable = False
    d = 0
    while d < max_depth:
        d += 1
        small = frontier_rows <= BROADCAST_MAX_FRONTIER
        if not small and not laid_out:
            # One-time on-demand re-layout: every later shuffle-join
            # round then moves only the frontier side.
            relaid = und.repartition(
                und.rdd.getNumPartitions(), "src").persist()
            relaid.count()
            und.unpersist()
            und = relaid
            laid_out = True
        f_side = frontier.withColumnRenamed("id", "src")
        # Γ(frontier) \ visited — the join's small side is the
        # frontier, the anti-join's small side is the (≤|V|-row)
        # visited set.
        new = (
            und.join(F.broadcast(f_side) if small else f_side, "src")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(depths, "id", "left_anti")
            .withColumn("depth", F.lit(d).cast("int"))
        )
        merged = depths.unionByName(new)
        durable = checkpoint.should_checkpoint(d)
        if durable:
            merged = checkpoint.write_state(merged, d).persist()
        else:
            # Truncate the union chain each round; LAZY so the
            # truncated RDD materializes inside the convergence
            # aggregate below — one job per round.
            merged = merged.localCheckpoint(eager=False)
        row = merged.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("depth") == d).cast("long")).alias("grew"),
        ).first()
        grew = int(row["grew"] or 0)
        if durable:
            checkpoint.write_metrics(d, {"reached": float(int(row["n"] or 0)),
                                         "frontier": float(grew)})
        frontier.unpersist()
        depths.unpersist()
        depths = merged
        frontier = merged.where(F.col("depth") == d).select("id").persist()
        frontier_rows = grew
        if grew == 0:
            break
    frontier.unpersist()
    if laid_out:
        # depths is checkpointed (durable or local) each round, so the
        # relaid edge cache is no longer referenced.
        und.unpersist()
    return detach(depths, owned, durable).select("id", "depth")
