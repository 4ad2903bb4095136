"""Densest subgraph via greedy peeling (Charikar / Bahmani et al.).

Beyond-reference operator (the reference ships PageRank only,
`pagerank/src/lib/pagerank.cpp:28-293`): find the subgraph maximizing
edge density ρ(S) = |E(S)| / |S| — the standard community-core /
link-farm / spam-cluster detector on web link graphs.

Algorithm: the MapReduce greedy peel of Bahmani-Kumar-Vassilvitskii
(PVLDB'12 "Densest Subgraph in Streaming and MapReduce").  Per round,
on the current induced subgraph with density ρ: remove EVERY vertex of
degree ≤ 2(1+ε)ρ at once, remember the round with the best density
seen.  At most a (1/(1+ε)) fraction of vertices can exceed that
threshold (their degrees alone would exceed the total 2ρ|V|
otherwise), so the vertex set shrinks geometrically and rounds are
O(log_{1+ε} |V|); the best round is a 2(1+ε)-approximation of the
optimum.  Unlike the sequential Charikar peel (one vertex per round,
O(|V|) rounds — a non-starter distributed), every round here is one
degree aggregation + two semi-joins, all map-side-combinable.

Determinism / oracle parity: the peel threshold is
``PEEL_FACTOR * density`` with density = m/n in IEEE double — both
engines compute the identical correctly-rounded quotient and the
identical strict comparisons (deg > thr; density > best), so the
selected round and vertex set match DuckDB's unrolled-CTE oracle
bit-for-bit.  Ties on density keep the EARLIEST round in both.

Scale: state per round is one |V'|-row degree table (eagerly
localCheckpoint-ed — lineage cut) and the shrinking edge cache; the
durable CheckpointManager cadence resets plan growth on deep peels
exactly as in k_core.  Only the best round's |V'|-row vertex frame is
retained.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from pagerank_spark.checkpoint import CheckpointManager, scoped_checkpoint
from pagerank_spark.graph import symmetrize

# 2*(1+eps) with eps=0.5: one exact float literal shared by engine and
# oracle so the threshold arithmetic cannot drift between them.
DEFAULT_EPS = 0.5


@dataclass
class DensestResult:
    vertices: DataFrame      # (id BIGINT) — the best round's vertex set
    density: float           # |E(S)| / |S| of that round (unrounded)
    n_vertices: int
    n_edges: int
    best_round: int          # 1-based round whose graph was densest
    rounds: int              # total peel rounds executed
    metrics: list[dict] = field(default_factory=list)


def densest_subgraph(
    edges: DataFrame,
    eps: float = DEFAULT_EPS,
    max_rounds: int = 10_000,
    checkpoint: CheckpointManager | None = None,
    checkpoint_interval: int = 8,
) -> DensestResult:
    """Greedy-peel densest subgraph over the simple undirected graph
    (direction, self-loops, multiplicity discarded).  Isolated
    vertices never enter (density contribution zero)."""
    if eps <= 0:
        raise ValueError("eps must be > 0")
    spark = edges.sparkSession
    peel_factor = 2.0 * (1.0 + eps)
    with scoped_checkpoint(checkpoint, "densest_ckpt_", lambda root: CheckpointManager(
            spark, root, interval=checkpoint_interval)) as (checkpoint, _):
        # Columnar SQL cache of the symmetrized simple edge set (same
        # rationale as k_core: an eager RDD checkpoint of a |2E|-row table
        # blows the heap at web scale where compressed batches fit).
        cur = symmetrize(edges).persist()
        best_density = -1.0
        best_verts: DataFrame | None = None
        best_round = 0
        best_n = best_m = 0
        metrics: list[dict] = []
        rnd = 0
        while rnd < max_rounds:
            rnd += 1
            deg = (cur.groupBy(F.col("src").alias("id"))
                   .agg(F.count(F.lit(1)).alias("deg"))
                   .localCheckpoint(eager=True))     # |V'|-row, lineage cut
            row = deg.agg(F.count(F.lit(1)).alias("n"),
                          F.sum("deg").alias("s")).first()
            n = int(row["n"] or 0)
            if n == 0:
                break
            m = int(row["s"]) // 2      # each undirected edge counted twice
            density = m / n             # IEEE double, matches the oracle
            metrics.append({"round": rnd, "n": n, "m": m, "density": density})
            if density > best_density:  # strict: ties keep the earlier round
                if best_verts is not None:
                    best_verts.unpersist()
                best_verts = deg.select("id").persist()
                best_verts.count()
                best_density, best_round = density, rnd
                best_n, best_m = n, m
            # One Python-side multiply (correctly-rounded IEEE, the same
            # value DuckDB's `3.0 * d` yields) then an int>double compare.
            thr = peel_factor * density
            keep = deg.where(F.col("deg") > F.lit(thr)).select("id")
            nxt = (
                cur.join(keep.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .select("src", "dst")
            )
            if checkpoint.should_checkpoint(rnd):
                nxt = checkpoint.write_state(nxt, rnd).persist()
                checkpoint.write_metrics(
                    rnd, {"n": float(n), "m": float(m), "density": density})
            else:
                nxt = nxt.persist()
            nxt.count()
            cur.unpersist()
            cur = nxt
        else:
            import warnings

            warnings.warn(
                f"densest_subgraph: max_rounds={max_rounds} exhausted before "
                "the peel emptied; result is the best round seen so far",
                RuntimeWarning, stacklevel=2)
        cur.unpersist()
        if best_verts is None:
            return DensestResult(
                vertices=spark.createDataFrame([], "id BIGINT"),
                density=0.0, n_vertices=0, n_edges=0, best_round=0,
                rounds=rnd, metrics=metrics)
        out = best_verts.localCheckpoint(eager=True)
        best_verts.unpersist()
        return DensestResult(
            vertices=out.select(F.col("id").cast("bigint").alias("id")),
            density=best_density, n_vertices=best_n, n_edges=best_m,
            best_round=best_round, rounds=rnd, metrics=metrics)
