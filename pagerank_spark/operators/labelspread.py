"""Seeded label spreading (semi-supervised label propagation).

Beyond-reference operator (the reference engine is fixed-function
PageRank, ``/root/reference/pagerank/src/lib/pagerank.cpp``): the
Zhu-Ghahramani / Zhou et al. label-spreading iteration — given a
small seeded subset of vertices with known class labels, diffuse
class mass over the undirected graph and label every reachable vertex
with its argmax class.  This is the weak-supervision primitive of a
training-data pipeline: propagate a handful of human labels (quality
tiers, topics, spam flags) over a similarity or link graph to label
the whole corpus.

Update (multi-class, damped), over the simple undirected graph:

    y_{t+1}(v, c) = α · Σ_{(u,v)} y_t(u, c) / deg(u)  +  (1-α) · y_0(v, c)

with y_0(v, c) = 1 iff v is seeded with class c.  The state is SPARSE
— only (vertex, class) pairs with nonzero mass are materialized, so
the footprint is |V|·(classes reached), not |V|·C — and each
iteration is ONE join + map-side-combined sum over the cached
split-fraction edge table (the SALSA/weighted-PageRank trade: the
1/deg fraction is precomputed once), plus a union with the constant
seed table.  Lineage is truncated per iteration with the shared
durable CheckpointManager cadence.

Cross-engine determinism: per-step scores are quantized to
``QUANT`` decimal digits after the aggregate (the tfidf W_ROUND
pattern), so the one summation-order ulp between Spark's partial aggs
and DuckDB's cannot drift a later iterate, and the final argmax
(ties broken by smallest class id) selects the identical label in
both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from pagerank_spark.checkpoint import CheckpointManager, scoped_checkpoint
from pagerank_spark.graph import symmetrize

# Per-step score quantization (decimal digits) — see module docstring.
QUANT = 12


def label_spreading(
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float = 0.85,
    iterations: int = 10,
    checkpoint: CheckpointManager | None = None,
    checkpoint_interval: int = 8,
) -> DataFrame:
    """(id, label, score) — the argmax class per vertex after
    ``iterations`` damped spreading steps from ``seeds`` (id, label);
    ties break to the smallest label.  Vertices no class mass has
    reached are absent (unlabeled).  Self-loops and edge multiplicity
    are discarded; propagation is undirected.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    spark = edges.sparkSession
    with scoped_checkpoint(checkpoint, "spread_ckpt_", lambda root: CheckpointManager(
            spark, root, interval=checkpoint_interval)) as (checkpoint, _):
        und = symmetrize(edges)
        deg = und.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("d"))
        # Split fraction precomputed once into the cached edge layout —
        # both engines then compute y * (1/deg) as the same two
        # correctly-rounded IEEE ops.
        und_f = (
            und.join(deg.select(F.col("id").alias("src"),
                                (F.lit(1.0) / F.col("d")).alias("f")), "src")
            .select("src", "dst", "f")
            .persist()
        )
        und_f.count()
        seed_rows = (
            seeds.select(F.col("id").cast("bigint").alias("id"),
                         F.col("label").cast("bigint").alias("label"),
                         F.lit(1.0 - alpha).alias("v"))
            .dropDuplicates(["id", "label"])
            .localCheckpoint(eager=True)
        )
        # y_0 scaled by (1-α) is exactly the seed term of every step; the
        # t=0 state is the unscaled seed mass.
        state = seed_rows.select("id", "label", F.lit(1.0).alias("y"))
        state = state.localCheckpoint(eager=True)
        state_cached: DataFrame | None = None
        try:
            for it in range(1, iterations + 1):
                gathered = (
                    und_f.join(state.select(F.col("id").alias("src"),
                                            "label", "y"), "src")
                    .groupBy(F.col("dst").alias("id"), "label")
                    .agg(F.sum(F.col("y") * F.col("f")).alias("g"))
                )
                rows = (
                    gathered.select("id", "label",
                                    (F.lit(alpha) * F.col("g")).alias("v"))
                    .unionByName(seed_rows)
                )
                nxt = (
                    rows.groupBy("id", "label")
                    .agg(F.round(F.sum("v"), QUANT).alias("y"))
                    # Drop (vertex, class) rows whose mass quantized to
                    # zero: they carry nothing forward, and on a long run
                    # the frontier of dead rows would otherwise grow with
                    # every hop the diffusion makes past where α^t mass
                    # survives the quantization.
                    .where(F.col("y") != 0.0)
                )
                if checkpoint.should_checkpoint(it):
                    nxt = checkpoint.write_state(nxt, it).persist()
                    nxt.count()
                    checkpoint.write_metrics(it, {"iteration": float(it)})
                    if state_cached is not None:
                        state_cached.unpersist()
                    state_cached = nxt
                else:
                    nxt = nxt.localCheckpoint(eager=True)
                state = nxt
            w = Window.partitionBy("id").orderBy(F.desc("y"), F.asc("label"))
            out = (
                state.withColumn("rnk", F.row_number().over(w))
                .where(F.col("rnk") == 1)
                .select("id", "label", F.col("y").alias("score"))
            )
            if state_cached is not None:
                out = out.localCheckpoint(eager=True)
            return out
        finally:
            if state_cached is not None:
                state_cached.unpersist()
            und_f.unpersist()


def modular_seeds(edges: DataFrame, mod: int, n_classes: int) -> DataFrame:
    """Deterministic demo/benchmark seed set over the vertices
    mentioned in ``edges``: every vertex with id % mod == 0 is seeded
    with class (id DIV mod) % n_classes — the quotient, NOT the
    residue, so the classes stay distinct even when ``mod`` is a
    multiple of ``n_classes`` (id % mod == 0 forces id % n_classes
    == 0 there, which would collapse every seed into class 0).  Both
    engines derive the identical table."""
    verts = (
        edges.select(F.col("src").cast("bigint").alias("id"))
        .unionByName(edges.select(F.col("dst").cast("bigint").alias("id")))
        .distinct()
    )
    return (
        verts.where(F.col("id") % mod == 0)
        .select("id",
                (F.expr(f"id DIV {int(mod)}") % n_classes).alias("label"))
    )
