"""Landmark (harmonic) closeness centrality via multi-source BFS.

Not in the reference engine (fixed-function PageRank,
``/root/reference/pagerank/src/lib/pagerank.cpp``); exact closeness
needs all-pairs distances (O(|V|·|E|) — hopeless at web scale), so
the standard scalable estimator is the landmark scheme of
Eppstein-Wang: BFS from a SMALL pinned landmark set L and score

    harmonic(v) = Σ_{s ∈ L, 0 < d(s,v)} 1 / d(s,v)

The multi-source traversal keys the frontier by (source, vertex) —
ONE job per round expands ALL landmarks' frontiers together (|L|
independent BFS runs would pay |L|× the scheduling and |L| scans per
round of the same cached edge table).  Physical strategy is inherited
from bfs.py: narrow symmetrize (no upfront |2E| exchange), frontier
broadcast under an exact driver-known row count with the one-time
src re-layout fallback above it, per-round lineage truncation.
Frontier rows are ≤ |L|·|V| but in practice track |L|× the single
BFS expansion wave, which peaks once and collapses.

Cross-engine float discipline: 1/d terms are quantized per-term to
INTEGERS (floor(1e6/d)) before summation, so the aggregate is exact
integer arithmetic — partial-sum order cannot flip a rounded digit
between engines (same rationale as operators/linkpred.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager, detach, scoped_checkpoint
from pagerank_spark.operators.bfs import BROADCAST_MAX_FRONTIER

# 1e6 quantization of the per-landmark 1/d term; the reported score is
# harmonic_q6 / 1e6 (identical derivation both engines).
HARMONIC_SCALE = 1_000_000


def multi_source_bfs(
    edges: DataFrame,
    sources: DataFrame | Sequence[int],
    max_depth: int = 50,
    directed: bool = False,
    checkpoint: CheckpointManager | None = None,
) -> DataFrame:
    """(source, id, depth): minimum hop count from EACH source
    separately (unlike bfs.bfs_depths, which merges the source set
    into one wave).  Unreachable (source, id) pairs are absent.
    """
    spark = edges.sparkSession
    if not isinstance(sources, DataFrame):
        sources = spark.createDataFrame(
            [(int(s),) for s in sources], "source BIGINT")
    else:
        sources = sources.select(F.col(sources.columns[0]).alias("source"))
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
        with scoped_checkpoint(checkpoint, "msbfs_ckpt_", lambda root: CheckpointManager(
                spark, root, interval=8)) as (checkpoint, owned):
            return _msbfs_loop(und, sources, max_depth, checkpoint, owned)
    finally:
        und.unpersist()


def _msbfs_loop(und: DataFrame, sources: DataFrame, max_depth: int,
                checkpoint: CheckpointManager, owned: bool) -> DataFrame:
    depths = (
        sources.select(F.col("source").cast("bigint").alias("source"))
        .distinct()
        .select("source", F.col("source").alias("id"),
                F.lit(0).cast("int").alias("depth"))
        .persist()
    )
    frontier = depths.select("source", "id").persist()
    frontier_rows = depths.count()
    laid_out = durable = False
    d = 0
    while d < max_depth:
        d += 1
        small = frontier_rows <= BROADCAST_MAX_FRONTIER
        if not small and not laid_out:
            relaid = und.repartition(
                und.rdd.getNumPartitions(), "src").persist()
            relaid.count()
            und.unpersist()
            und = relaid
            laid_out = True
        f_side = frontier.withColumnRenamed("id", "src")
        new = (
            und.join(F.broadcast(f_side) if small else f_side, "src")
            .select("source", F.col("dst").alias("id"))
            .distinct()
            .join(depths, ["source", "id"], "left_anti")
            .withColumn("depth", F.lit(d).cast("int"))
        )
        merged = depths.unionByName(new)
        durable = checkpoint.should_checkpoint(d)
        if durable:
            merged = checkpoint.write_state(merged, d).persist()
        else:
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
        frontier = (merged.where(F.col("depth") == d)
                    .select("source", "id").persist())
        frontier_rows = grew
        if grew == 0:
            break
    frontier.unpersist()
    if laid_out:
        und.unpersist()
    return detach(depths, owned, durable).select("source", "id", "depth")


def harmonic_centrality(
    edges: DataFrame,
    landmarks: DataFrame | Sequence[int],
    max_depth: int = 50,
    directed: bool = False,
    checkpoint: CheckpointManager | None = None,
) -> DataFrame:
    """(id, n_reached, harmonic_q6, harmonic): landmark harmonic
    closeness — for each vertex reached by ≥1 landmark, the number of
    landmarks that reach it (at depth > 0) and the integer-quantized
    Σ floor(1e6 / d(s, v)); ``harmonic`` = harmonic_q6 / 1e6.
    """
    dist = multi_source_bfs(edges, landmarks, max_depth=max_depth,
                            directed=directed, checkpoint=checkpoint)
    pos = dist.where(F.col("depth") > 0)
    return (
        pos.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_reached"),
             F.sum(F.floor(F.lit(float(HARMONIC_SCALE)) / F.col("depth")))
             .alias("harmonic_q6"))
        .select("id", "n_reached", "harmonic_q6",
                (F.col("harmonic_q6") / F.lit(float(HARMONIC_SCALE)))
                .alias("harmonic"))
    )


def closeness_centrality(
    edges: DataFrame,
    landmarks: DataFrame | Sequence[int],
    max_depth: int = 50,
    directed: bool = False,
    checkpoint: CheckpointManager | None = None,
) -> DataFrame:
    """(id, n_reached, sum_dist, closeness_q6, closeness): landmark
    closeness — the other face of the Eppstein-Wang estimator
    (harmonic sums 1/d; closeness inverts the MEAN distance to the
    landmarks that reach the vertex):

        closeness(v) = n_reached(v) / Σ_{s ∈ L, 0 < d(s,v)} d(s, v)

    Shares one multi-source BFS with :func:`harmonic_centrality`
    (same frontier-broadcast physical plan).  Cross-engine float
    discipline matches harmonic's: ``n_reached`` and ``sum_dist``
    are exact BIGINT aggregates, ``closeness_q6`` =
    floor(1e6 · n_reached / sum_dist) is ONE IEEE double divide of
    two exact integers then a floor — bit-identical everywhere — and
    ``closeness`` = closeness_q6 / 1e6 is derived from the integer.
    Vertices no landmark reaches are absent (their closeness is 0
    by convention).
    """
    dist = multi_source_bfs(edges, landmarks, max_depth=max_depth,
                            directed=directed, checkpoint=checkpoint)
    pos = dist.where(F.col("depth") > 0)
    return (
        pos.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_reached"),
             F.sum("depth").cast("bigint").alias("sum_dist"))
        .select("id", "n_reached", "sum_dist",
                F.floor(F.col("n_reached") * F.lit(float(HARMONIC_SCALE))
                        / F.col("sum_dist"))
                .cast("bigint").alias("closeness_q6"))
        .select("id", "n_reached", "sum_dist", "closeness_q6",
                (F.col("closeness_q6") / F.lit(float(HARMONIC_SCALE)))
                .alias("closeness"))
    )
